package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Window ("selection policy") operators.
  *
  * The reference's policies (reference: pkg/events/selection_policy.go):
  *  - TemporalWindowPolicy(start, length, shift) → Spark's built-in
  *    `window()` event-time buckets (tumbling / sliding / hopping).
  *  - CountingWindowPolicy(n, shift) → no streaming built-in; batch form
  *    here via row_number bucketing, streaming form in
  *    graft.streaming.CountingWindows.
  *
  * Scale note: `groupBy(window(...))` is a hash aggregate with map-side
  * partial aggregation — one shuffle of partial aggregates, never of raw
  * rows. Counting windows need a total order; the batch form below orders
  * within the window function's single shuffle. At 100 TB a *global*
  * counting window is inherently sequential — the right call is a keyed
  * counting window (per user/session), which partitions cleanly; the
  * global form stays available for parity.
  */
object Windows {

  /** Tumbling/sliding event-time window aggregation (reference
    * TemporalWindowPolicy, selection_policy.go:130-137). Emits
    * window_start/window_end plus the aggregates.
    */
  def temporal(
      ts: Column,
      length: String,
      slide: Option[String] = None)(
      groupCols: Seq[Column],
      aggs: Seq[Column]): DataFrame => DataFrame = { df =>
    val w = slide.fold(window(ts, length))(s => window(ts, length, s))
    df.groupBy(w +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** BatchSum (reference: default_operators.go:18-38): sum of a numeric
    * content column per temporal window.
    */
  def batchSum(ts: Column, valueCol: Column, length: String,
      slide: Option[String] = None): DataFrame => DataFrame =
    temporal(ts, length, slide)(Nil, Seq(sum(valueCol).as("sum_value")))

  /** BatchCount (reference: default_operators.go:41-58). */
  def batchCount(ts: Column, length: String,
      slide: Option[String] = None): DataFrame => DataFrame =
    temporal(ts, length, slide)(Nil, Seq(count(lit(1)).as("n_events")))

  /** Per-window word frequency — the reference's canonical custom
    * aggregation (reference: examples/processing/customOperator/main.go:17-42).
    */
  def wordCount(ts: Column, text: Column, length: String): DataFrame => DataFrame =
    df => df
      .withColumn("word", explode(graft.functions.TextFunctions.tokens(text)))
      .groupBy(window(ts, length), col("word"))
      .agg(count(lit(1)).as("n"))
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Batch counting window (reference CountingWindowPolicy,
    * selection_policy.go:122-128): bucket rows by arrival order into
    * size-n windows sliding by `shift`. shift == n → tumbling; shift < n
    * → overlapping (rows re-delivered); shift > n → skipping (rows
    * dropped) — semantics pinned by selection_policy_test.go:67-95.
    *
    * Emits (window_id, row) pairs; callers aggregate over window_id.
    *
    * Without `partitionBy` (the global form) the order key must be one
    * numeric column, unique and non-null; any other key type is rejected
    * with an IllegalArgumentException. Applying the global form's
    * transform to a frame runs Spark jobs eagerly: it materializes the
    * input (localCheckpoint), sketches key quantiles and collects
    * per-bucket totals, and the row total enters the plan as a literal.
    * The keyed form builds a lazy plan and takes any orderBy columns.
    */
  def countingWindowIds(orderBy: Seq[Column], n: Int, shift: Int,
      partitionBy: Seq[Column] = Nil): DataFrame => DataFrame = {
    require(n > 0 && shift > 0)
    df => {
      val withRn = if (partitionBy.nonEmpty) {
        val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        val rn = row_number().over(w) - 1 // 0-based
        // per-key total in the same single pass — no extra job
        val total = count(lit(1)).over(Window.partitionBy(partitionBy: _*))
        df.withColumn("_rn", rn).withColumn("_total", total)
      } else {
        // GLOBAL arrival numbering, scale-safe: the old
        // `row_number().over(Window.orderBy(key))` planned a
        // single-partition WindowExec — every event row moved to ONE
        // task (the "No Partition Defined" WARN), which serializes the
        // operator at corpus scale. Packing.globalCumsum's two-pass
        // scheme (literal equi-depth key buckets, per-bucket window,
        // driver-side prefix offsets over |buckets| rows) computes the
        // identical 0-based rank for a UNIQUE NUMERIC order key —
        // rn = cumsum(1) - 1 — and its driver-side totals vector gives
        // the global row count without a second pass. Contract
        // (inherited from globalCumsum): the global form needs a
        // single numeric, non-null, unique order key (true for the
        // event_id callers); with duplicate keys the rank among equal
        // keys is tie-order-arbitrary in BOTH formulations.
        require(orderBy.size == 1,
          "global counting windows need a single numeric order key " +
            "(the per-key variant takes arbitrary orderBy columns)")
        // the key is cast to double for bucketing: a non-numeric key
        // would become null and land every row in one bucket
        val keyType = df.select(orderBy.head).schema.head.dataType
        require(keyType.isInstanceOf[NumericType],
          "global counting windows need a numeric order key column; " +
            s"${orderBy.head} is ${keyType.simpleString}")
        val (cum, total) = Packing.globalCumsumWithTotal(
          df, orderBy.head, lit(1L), "_cum1")
        cum.withColumn("_rn", col("_cum1") - 1).drop("_cum1")
          .withColumn("_total", lit(total))
      }
      // row r belongs to window w iff w*shift <= r < w*shift + n
      val firstW = greatest(ceil((col("_rn") - n + 1).cast("double") / shift), lit(0)).cast("long")
      val lastW = floor(col("_rn").cast("double") / shift).cast("long")
      // Skipping windows (shift > n) leave gap rows with firstW > lastW;
      // Spark's sequence() would generate a DESCENDING range there, so gate
      // it — explode of an empty array drops the row, as intended.
      val windows = when(firstW <= lastW, sequence(firstW, lastW))
        .otherwise(array().cast("array<long>"))
      withRn
        .withColumn("window_id", explode(windows))
        .drop("_rn")
    }
  }

  /** Complete counting windows only: a window fires iff all n of its rows
    * exist, i.e. window_id*shift + n <= total rows (reference requires
    * buffer.Len() > range.End, selection_policy.go:144-146). Single pass:
    * the total comes from a window count, not a separate action.
    */
  def countingWindowAgg(orderBy: Seq[Column], n: Int, shift: Int,
      partitionBy: Seq[Column] = Nil)(
      aggs: Seq[Column]): DataFrame => DataFrame = { df =>
    countingWindowIds(orderBy, n, shift, partitionBy)(df)
      .where(col("window_id") * shift + n <= col("_total"))
      .groupBy(partitionBy :+ col("window_id"): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
