package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Sessions}

/** Head-key skew measurement for the bigram-LM head-total stage (VERDICT
  * r18 item 9): stopword head tokens concentrate bigrams, so the stage
  * that attaches per-head totals to every bigram row sees a hot key. This
  * bench builds a synthetic bigram-count frame whose worst head owns
  * `hotPct`% of all rows (the stopword-heavy regime) and times the two
  * candidate formulations over the SAME localCheckpoint'ed input:
  *
  *  - window: `sum(nb).over(Window.partitionBy("h"))` — the r18 form.
  *    The hot head's rows all land in ONE WindowExec partition; no
  *    partial aggregation, no AQE split can rescue the straggler task.
  *  - agg+join: `groupBy("h").sum` (map-side combine shrinks the hot
  *    head to one row per map task) then an equi-join back on h, which
  *    AQE's skew-join handling CAN split (guide §2.5).
  *
  * Usage: runMain graft.NllSkewBench [nRows] [hotPct]  (defaults 20M, 90)
  * Prints one JSON line with both times and the hot-head share.
  */
object NllSkewBench {
  def main(args: Array[String]): Unit = {
    Sessions.assertJdkOpens()
    val nRows = if (args.length > 0) args(0).toLong else 20000000L
    val hotPct = if (args.length > 1) args(1).toInt else 90
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietSupersededCheckpointWarnings()

    // synthetic per-bigram counts: hotPct% of rows head on "the", the
    // rest spread over 64k cold heads; every bg is distinct (the cb
    // frame's shape after its groupBy)
    val cb = Materialize.checkpoint(spark.range(0L, nRows, 1L, cpus * 4)
      .select(
        when(pmod(col("id"), lit(100)) < hotPct, lit("the"))
          .otherwise(concat(lit("h"), pmod(col("id"), lit(65536))))
          .as("h"),
        concat(lit("bg"), col("id")).as("bg"),
        (pmod(col("id"), lit(7)) + 1).as("nb")), eager = true)

    def timed(f: => Unit): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def sink(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    def windowForm(): Unit = sink(
      cb.withColumn("nh", sum("nb").over(Window.partitionBy("h")))
        .select(col("bg"), floor(-log(col("nb") / col("nh")) * 10000 + 0.5)
          .as("nll_i4")))
    def aggJoinForm(): Unit = sink(
      cb.join(cb.groupBy("h").agg(sum("nb").as("nh")), "h")
        .select(col("bg"), floor(-log(col("nb") / col("nh")) * 10000 + 0.5)
          .as("nll_i4")))
    // head totals are UNIGRAM-vocAB-sized (one row per distinct head
    // token) — broadcastable by the same argument as q_unigram_nll's
    // vocab; the attach is then map-side and skew-immune: the agg
    // combines hot heads map-side, the broadcast join never shuffles cb
    def aggBroadcastForm(): Unit = sink(
      cb.join(broadcast(cb.groupBy("h").agg(sum("nb").as("nh"))), "h")
        .select(col("bg"), floor(-log(col("nb") / col("nh")) * 10000 + 0.5)
          .as("nll_i4")))

    windowForm(); aggJoinForm(); aggBroadcastForm() // JIT/codegen warm
    val wSec = (1 to 3).map(_ => timed(windowForm())).min
    val jSec = (1 to 3).map(_ => timed(aggJoinForm())).min
    val bSec = (1 to 3).map(_ => timed(aggBroadcastForm())).min
    println(f"""{"nll_skew_bench":{"n_rows":$nRows,"hot_pct":$hotPct,"cpus":$cpus,"window_sec":$wSec%.2f,"agg_join_sec":$jSec%.2f,"agg_broadcast_sec":$bSec%.2f}}""")
    spark.stop()
  }
}
