package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Scale-safe global cumulative sum (the sequence-packing primitive).
  *
  * A naive `Window.orderBy(key)` cumsum plans a single-partition
  * WindowExec — every row moves to one task, which serializes the job at
  * cluster scale. This is the classic two-pass alternative:
  *
  *   1. sketch ~equi-depth key boundaries once (`approxQuantile`) and
  *      bake them into the plan as LITERALS — the bucket id is then a
  *      pure function of the key, identical in every downstream job;
  *   2. per-BUCKET window cumsum (parallel — one hash shuffle, each
  *      bucket an independent WindowExec group);
  *   3. aggregate one total per bucket, collect that TINY vector to the
  *      driver (|buckets| rows, not data rows), prefix-sum it;
  *   4. add each bucket's offset back via a broadcast literal map.
  *
  * Why not `repartitionByRange` + `spark_partition_id()`: Spark's
  * RangePartitioner seeds its reservoir sample with the RDD id, so two
  * executions of the SAME plan draw DIFFERENT boundaries — the offsets
  * job and the final job would disagree on the row→partition mapping
  * unless the exchange is pinned by an intact cache, and a cache
  * eviction would turn that into silently wrong cumsums. Literal
  * boundaries keep the row→bucket mapping plan-independent; boundary
  * QUALITY only affects balance, never the result.
  *
  * The staged frame is `localCheckpoint`ed (materialized once, lineage
  * cut) so the per-bucket totals job and the final cumsum job read the
  * SAME rows even for nondeterministic inputs — a cache would only be
  * advisory (evictable, and recomputation of a nondeterministic source
  * would silently desync offsets from rows). The checkpoint storage is
  * released when the returned frame is garbage-collected; on a real
  * cluster prefer `spark.sparkContext.setCheckpointDir` + `checkpoint()`
  * if executor loss must be survivable mid-pipeline.
  *
  * Output equals the global-window formulation when `orderKey` is
  * UNIQUE per row (true for doc_id in q_token_packing). With duplicate
  * keys both formulations are tie-order-dependent — the per-row cumsum
  * among equal keys is whatever order the window happens to see, here
  * and in a global window alike. Contract: `orderKey` numeric, non-null
  * and unique; `valueCol` integral (token counts, byte sizes). The
  * helper column names `__val`/`__key`/`__pid` are reserved: same-named
  * input columns would be clobbered.
  */
object Packing {

  /** Adds `cumCol` = running sum of `valueCol` in `orderKey` order.
    * `numPartitions` bounds both the offset vector collected to the
    * driver and the parallelism of the cumsum stage.
    */
  def globalCumsum(
      df: DataFrame,
      orderKey: Column,
      valueCol: Column,
      cumCol: String,
      numPartitions: Int = 32): DataFrame =
    globalCumsumWithTotal(df, orderKey, valueCol, cumCol, numPartitions)._1

  /** [[globalCumsum]] plus the GRAND TOTAL of `valueCol`, which the
    * two-pass scheme already holds on the driver (the per-bucket totals
    * vector) — callers that also need the total (Windows'
    * scale-safe global counting windows need the row count) get it
    * for free instead of paying a second aggregation job.
    */
  def globalCumsumWithTotal(
      df: DataFrame,
      orderKey: Column,
      valueCol: Column,
      cumCol: String,
      numPartitions: Int = 32): (DataFrame, Long) = {
    // Materialize FIRST, then sketch boundaries from the checkpoint:
    // the old order ran approxQuantile directly on the input — a full
    // extra pass over the source (for q_token_packing that means
    // tokenizing every document twice, once for the sketch and once for
    // the checkpoint; guide §1.2). The checkpoint is also what totals
    // and the final cumsum read, so all three consumers now share one
    // materialization. Boundary QUALITY is unaffected (same rows
    // sampled); boundaries only ever affect balance, never the result.
    // Unlike cache(), the checkpoint is not advisory (no
    // eviction-triggered recompute) and does not linger in CacheManager
    // for later identical plans to silently reuse.
    val input = Materialize.checkpoint(df
      .withColumn("__val", valueCol.cast("long"))
      .withColumn("__key", orderKey.cast("double")), eager = true)

    // Equi-depth boundaries, frozen as literals; dedup guards
    // degenerate (few-distinct-keys) input.
    val probs = (1 until numPartitions).map(_.toDouble / numPartitions)
    val bounds = input.stat
      .approxQuantile("__key", probs.toArray, 0.01)
      .distinct.sorted
    val bucket =
      if (bounds.isEmpty) lit(0)
      else size(filter(array(bounds.toIndexedSeq.map(lit): _*),
        b => col("__key") > b))
    val staged = input.withColumn("__pid", bucket)

    // Pass 1: one row per bucket — the only thing that reaches the
    // driver. Sorted by bucket (== key range order), then prefix-summed.
    val totals = staged.groupBy("__pid")
      .agg(coalesce(sum(col("__val")), lit(0L)).as("__t"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) =>
      (pid, acc + t)
    }.init.zip(totals).map { case ((_, off), (pid, _)) => pid -> off }

    // Broadcast the offsets as a literal map — |buckets| entries. On
    // EMPTY input `map()` with zero args types as map<string,string> and
    // the coalesce would coerce the cum column through StringType to
    // DOUBLE — guard with a plain 0L so the dtype is LongType either way.
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(offsets.flatMap { case (pid, off) =>
            Seq(lit(pid), lit(off))
          }.toIndexedSeq: _*),
          col("__pid")),
        lit(0L))

    // Pass 2: per-bucket cumsum (parallel) + bucket offset.
    val w = Window.partitionBy("__pid").orderBy(orderKey)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (staged
      .withColumn(cumCol, sum(col("__val")).over(w) + offExpr)
      .drop("__val", "__key", "__pid"),
      totals.map(_._2).sum)
  }
}
