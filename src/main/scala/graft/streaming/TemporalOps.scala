package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.core.EventEnvelope
import graft.operators.Windows

/** Temporal-window operators on the streaming surface (reference:
  * TemporalWindowPolicy, pkg/events/selection_policy.go:130-137,
  * 178-215; BatchSum/BatchCount, default_operators.go:18-58).
  *
  * Spark mapping: built-in `window()` buckets + a 0-delay watermark. The
  * reference closes a window only when a later event arrives on the
  * stream; Spark's watermark advances at micro-batch end from the
  * observed max event time — the same data-driven punctuation, so a
  * window emits once an event at/past its end has been seen (SURVEY
  * §2.4). The reference also emits EMPTY windows between two distant
  * events (selection_policy_test.go:146-201); grouped aggregation cannot
  * produce groups with no rows, so that semantic lives in the stateful
  * sequencer `StatefulOps.temporalBatchesGapless` — use it when the
  * subscriber must observe every bucket; the grouped-agg operators here
  * skip empty buckets (occupied-bucket results are identical).
  *
  * Scale: hash aggregation with map-side partials — the shuffle carries
  * one partial row per (window, key) per task, never raw events.
  */
object TemporalOps {

  /** Windowed aggregation over enveloped events. Output rows carry
    * window_start/window_end (epoch-aligned bucket) plus the merged
    * event stamp (min start / max end over member events — the
    * NewEventFromOthers lineage, timestamper.go:22-50) and the given
    * aggregates over the `content` column.
    */
  def windowAgg[T](length: String, slide: Option[String] = None,
      allowedLateness: String = "0 seconds")(
      aggs: Column*)(ds: Dataset[EventEnvelope[T]]): DataFrame =
    // allowedLateness > 0 is a free improvement over the reference,
    // which silently skips any late event (selection_policy.go:587-589)
    Windows.temporal(col("event_time"), length, slide)(Nil,
      Seq(min(col("stamp.start_time")).as("stamp_start"),
        max(col("stamp.end_time")).as("stamp_end")) ++ aggs)(
      EventEnvelope.withEventTime(ds.toDF(), allowedLateness))

  /** Per-window quality-drift monitor — the streaming face of
    * q_quality_drift: each tumbling window's documents are binned on
    * the fixed quality grid (ONE aggregation: five conditional sums)
    * and each bin's smoothed share is scored as a PSI term against a
    * pre-fitted BASELINE share artifact (graft.operators.Drift
    * .fitBaseline — the same offline-artifact split as the importance
    * and decontamination gates). Emits one row per (window, bin) at
    * watermark close; the alert consumer sums psi_term per window
    * against the conventional 0.25 line. State is the open windows'
    * 5-counter vectors — constant per window, evicted at close.
    */
  def qualityDriftByWindow(length: String, baseline: Seq[Double],
      allowedLateness: String = "0 seconds")(
      ds: Dataset[EventEnvelope[String]]): DataFrame = {
    val B = graft.operators.Drift.Bins
    require(baseline.length == B && baseline.forall(_ > 0),
      s"baseline must be $B positive shares (use Drift.fitBaseline)")
    val bin = graft.operators.Drift.qualityBin(col("content"))
    val perBin = (0 until B).map(b =>
      sum(when(bin === b.toLong, 1L).otherwise(0L)).as(s"n$b"))
    val agged = EventEnvelope.withEventTime(ds.toDF(), allowedLateness)
      .groupBy(window(col("event_time"), length))
      .agg(count(lit(1)).as("n_docs"), perBin: _*)
    val binRows = explode(array((0 until B).map { b =>
      val p = graft.operators.Drift.smoothedShare(col(s"n$b"), col("n_docs"))
      struct(lit(b.toLong).as("bin"), col(s"n$b").as("n_bin"),
        graft.queries.Det.r4(p).as("share"),
        graft.queries.Det.r4(
          graft.operators.Drift.psiTerm(p, baseline(b))).as("psi_term"))
    }: _*))
    agged.select(col("window.start").as("window_start"),
        col("n_docs"), binRows.as("r"))
      .select(col("window_start"), col("n_docs"), col("r.bin"),
        col("r.n_bin"), col("r.share"), col("r.psi_term"))
  }

  /** BatchSum (reference: default_operators.go:18-38). */
  def batchSum[T](length: String, slide: Option[String] = None,
      allowedLateness: String = "0 seconds")(
      ds: Dataset[EventEnvelope[T]]): DataFrame =
    windowAgg(length, slide, allowedLateness)(
      sum(col("content")).as("sum_value"))(ds)

  /** BatchCount (reference: default_operators.go:41-58). */
  def batchCount[T](length: String, slide: Option[String] = None,
      allowedLateness: String = "0 seconds")(
      ds: Dataset[EventEnvelope[T]]): DataFrame =
    windowAgg(length, slide, allowedLateness)(
      count(lit(1)).as("n_events"))(ds)

  /** Per-window word count — the reference's canonical custom pipeline
    * operator (reference: examples/processing/customOperator/main.go:17-42).
    */
  def wordCountWindow(length: String)(
      ds: Dataset[EventEnvelope[String]]): DataFrame =
    Windows.wordCount(col("event_time"), col("content"), length)(
      EventEnvelope.withEventTime(ds.toDF(), "0 seconds"))

  /** Session windows: per-key event chains with gaps below `gap` merge
    * into one session (no reference analogue — a free Spark capability;
    * batch twin: AnalyticsQueries.q_sessions gaps-and-islands). State per
    * open session is one row, evicted when the watermark passes the gap.
    */
  def sessionAgg[T](gap: String, keyCol: String)(aggs: Column*)(
      ds: Dataset[EventEnvelope[T]]): DataFrame =
    EventEnvelope.withEventTime(ds.toDF(), "0 seconds")
      .groupBy(session_window(col("event_time"), gap),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"), aggs: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Generic windowed batch: collect each temporal window's events into
    * one WindowBatch (the unit handed to the reference's pipeline
    * operators and batch subscribers, operator_engine.go:88-92). windowId
    * is the bucket's epoch-second start.
    *
    * This is the DISTRIBUTED grouped-agg form: map-side partials, state
    * partitioned by window — but it cannot emit empty windows and gives
    * no cross-window ordering guarantee. Batch subscriptions route
    * through `StatefulOps.temporalBatchesGapless` instead for the
    * reference buffer's exact sequence; use this form directly when
    * empty windows don't matter and horizontal scale does.
    * GaplessParity in GaplessPropertiesSpec pins that both forms agree
    * on every OCCUPIED window.
    */
  def temporalBatches[T: TypeTag](length: String,
      slide: Option[String] = None)(
      ds: Dataset[EventEnvelope[T]]): Dataset[WindowBatch[T]] = {
    implicit val enc: Encoder[WindowBatch[T]] =
      ExpressionEncoder[WindowBatch[T]]()
    val w = slide.fold(window(col("event_time"), length))(s =>
      window(col("event_time"), length, s))
    EventEnvelope.withEventTime(ds.toDF(), "0 seconds")
      .groupBy(w)
      .agg(
        min(col("stamp.start_time")).as("stamp_start"),
        max(col("stamp.end_time")).as("stamp_end"),
        // array_sort with an explicit comparator: sort_array cannot order
        // structs that contain a map field (the meta)
        array_sort(
          collect_list(struct(
            col("stamp.start_time").as("t"),
            col("stamp.meta").as("m"),
            col("content").as("c"))),
          (l, r) => when(l.getField("t") < r.getField("t"), -1)
            .when(l.getField("t") > r.getField("t"), 1)
            .otherwise(0))
          .as("evs"))
      .select(
        col("window.start").cast("long").as("windowId"),
        struct(
          col("stamp_start").as("start_time"),
          col("stamp_end").as("end_time"),
          // meta union in event-time order, later wins — the
          // NewEventFromOthers merge rule (timestamper.go:22-50).
          // map_concat resolves duplicate keys LAST_WIN (Sessions sets
          // spark.sql.mapKeyDedupPolicy accordingly).
          aggregate(col("evs"),
            map().cast("map<string,string>"),
            (acc, x) => map_concat(acc, x.getField("m"))).as("meta"))
          .as("stamp"),
        col("evs.c").as("events"))
      .as[WindowBatch[T]]
  }
}

/** Stream-stream windowed joins (reference: JoinOperatorEngine,
  * pkg/processing/operator_engine.go:294-448; Join/LeftJoin,
  * default_operators.go:117-218).
  *
  * Both sides get a 0-delay watermark and a tumbling bucket column; the
  * bucket is part of the equi-join key, so Spark's stream-stream join
  * keeps at most one window of state per key per side and evicts it as
  * the watermark passes — the reference's per-window buffer GC
  * (operator_engine.go:434-446), distributed.
  */
object StreamJoins {

  // The bucket must stay the watermark-derived window STRUCT: Spark's
  // outer stream-stream join only recognizes state-eviction bounds when
  // the watermarked window column itself is a join key (a projected
  // .start field loses the event-time lineage).
  private def bucketed(df: DataFrame, ts: String, length: String,
      side: String): DataFrame =
    df.withColumn(s"${side}_time", col(ts))
      .withWatermark(s"${side}_time", "0 seconds")
      .withColumn(s"${side}_w", window(col(s"${side}_time"), length))
      // keep exactly ONE event-time column per side: the window struct
      .drop(s"${side}_time")

  /** Windowed inner equi-join of two streams on (key, bucket). */
  def windowedInner(left: DataFrame, right: DataFrame, key: String,
      tsLeft: String, tsRight: String, length: String): DataFrame = {
    val l = bucketed(left, tsLeft, length, "l")
    val r = bucketed(right, tsRight, length, "r")
    l.join(r,
      l(key) === r(key) && col("l_w") === col("r_w"))
      .drop(r(key)).drop("r_w")
      .withColumn("window_start", col("l_w.start")).drop("l_w")
  }

  /** Windowed left-outer: unmatched left rows emit with NULL right side
    * once the watermark closes their window (reference LeftJoin,
    * default_operators.go:186-207).
    */
  def windowedLeftOuter(left: DataFrame, right: DataFrame, key: String,
      tsLeft: String, tsRight: String, length: String): DataFrame = {
    val l = bucketed(left, tsLeft, length, "l")
    val r = bucketed(right, tsRight, length, "r")
    l.join(r,
      l(key) === r(key) && col("l_w") === col("r_w"),
      "left_outer")
      .drop(r(key)).drop("r_w")
      .withColumn("window_start", col("l_w.start")).drop("l_w")
  }
}
