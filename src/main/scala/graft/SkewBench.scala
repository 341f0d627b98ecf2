package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.{Ann, Joins}
import graft.queries.Tables

/** Skew-repair measurement at fixture scale (the SCALE.md skew rows):
  * builds (or reuses) a ScaleFixture with a PLANTED dense cluster on
  * the embeddings table and times the three repairs under it —
  *
  *  1. nearDupPairs hot-bucket guard: time-to-loud-failure when the
  *     planted cluster exceeds maxBucket (the guard's cost is one
  *     count aggregation riding the banded cache — it must be cheap,
  *     because every healthy run pays it too);
  *  2. semDedup hot-cell absorb: the planted cluster plus the real
  *     multiplied embeddings all land in one IVF cell; the sub-split
  *     repairs it and mining stays ~cells·cap²/2;
  *  3. salted vs unsalted shuffle join on a 95%-hot key at 8M rows
  *     (synthetic — the fixture tables have no skewed join key, which
  *     is exactly why q_* queries never needed salting).
  *
  * Usage: runMain graft.SkewBench <srcSfDir> <workDir> [mult] [hotN]
  * (defaults mult=10 hotN=4000). Prints one JSON line.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft-skewbench"
    val mult = if (args.length > 2) args(2).toInt else 10
    val hotN = if (args.length > 3) args(3).toInt else 4000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fix = s"$work/mult$mult-hot$hotN"
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$fix/embeddings.parquet")))
      ScaleFixture.run(spark, src, fix, mult, hotN)
    val emb = Tables.read(spark, s"$fix/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nVec = emb.count()
    val dim = emb.head().getSeq[Float](1).length

    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // 1. guard: the planted hotN-member bucket exceeds the cap; the
    // loud failure must arrive in count-aggregation time, not after a
    // quadratic join
    val (guardSec, guardMsg) = timed {
      try { Ann.nearDupPairs(emb, dim, 0.95, maxBucket = hotN / 2L)
          .write.format("noop").mode("overwrite").save(); "NO-TRIP" }
      catch { case e: IllegalStateException =>
        "band=(\\d+) h=(-?\\d+) \\((\\d+)\\)".r
          .findFirstIn(e.getMessage).getOrElse("unnamed") }
    }

    // 2. semDedup absorb: one centroid along e0 (the planted cluster's
    // axis) plus spread decoys — cluster AND a chunk of the real
    // embeddings land in cell 0, far over the cap; sub-split absorbs
    val cents = (0 until 4).map(c =>
      (c.toLong, Seq.tabulate(dim)(j =>
        if (j == c) 1.0f else 0.0f))).toSeq
    import spark.implicits._
    val centDf = cents.toDF("cell_id", "cell_emb")
    val cap = 1024L
    val (semSec, semKept) = timed {
      val out = Ann.semDedup(emb, centDf, thresholdQ = 9500L,
        maxCellSize = cap).where(col("dropped") === 0L).count()
      out
    }

    // 3. salted vs unsalted 95%-hot shuffle join, 8M probe rows
    val t0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val probe = spark.range(8000000L).select(
      when(pmod(col("id"), lit(20)) < 19, 1L)
        .otherwise(pmod(col("id"), lit(64)) + 1).as("k"),
      col("id").as("pv"))
    val build = spark.range(65L).select((col("id") + 1).as("k"),
      (col("id") * 7).as("bv"))
    def sumJoin(df: DataFrame): Long =
      df.agg(sum(col("pv") + col("bv"))).head().getLong(0)
    def plain() = sumJoin(probe.join(build, "k"))
    def salted() = sumJoin(
      Joins.saltedJoin(probe, build, "k", col("pv"), buckets = cpus))
    plain(); salted() // codegen/JIT warm
    val (plainSec, ps) = timed(plain())
    val (saltSec, ss) = timed(salted())
    require(ps == ss, s"salted checksum diverged: $ss != $ps")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t0)

    println(f"""{"skew_bench":{"sf_src":"$src","mult":$mult,"hot_n":$hotN,"n_vec":$nVec,"dim":$dim,"guard_sec":$guardSec%.2f,"guard_bucket":"$guardMsg","semdedup_cap":$cap,"semdedup_sec":$semSec%.1f,"semdedup_kept":$semKept,"join_rows":8000000,"join_unsalted_sec":$plainSec%.2f,"join_salted_sec":$saltSec%.2f}}""")
    spark.stop()
  }
}
