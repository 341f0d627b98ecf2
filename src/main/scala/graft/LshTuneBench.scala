package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Sessions}
import graft.functions.VectorFunctions
import graft.operators.Ann

/** Measures WHY nearDupPairsAuto exists: for FIXED bitsPerBand the LSH
  * band self-join's candidate volume is sum-over-buckets c²/2 ≈
  * B·n²/2^bits — quadratic in the corpus — while the lshPlan-sized
  * scheme pins E[bucket] so the volume stays ~B·n·targetBucket/2,
  * linear in n. Candidate volume is computed EXACTLY from bucket
  * populations (sum c(c-1)/2 over every (band, h)), which is the cost
  * driver of the self-join without having to run it; the full operator
  * is additionally wall-timed at the smallest point as a sanity anchor.
  *
  * Corpus: the SkewTortureSpec spread generator (deterministic
  * xxhash64 components) — uniform-ish, no planted clusters, i.e. the
  * UNDER-RESOLVED regime the guard's case (a) describes, not the dense-
  * cluster case (b) that no band scheme can fix.
  *
  * Usage: runMain graft.LshTuneBench [nBase] [quadruplings] [dim] [anchorN]
  * (defaults 50000 2 32 100000) — prints one JSON line with, per corpus
  * size, the fixed-16x8 and auto candidate volumes and schemes, plus
  * wall times for both full operators at anchorN (a size where the two
  * schemes genuinely differ — at 50k lshPlan lands on 8 bits itself).
  */
object LshTuneBench {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toLong else 50000L
    val quadruplings = if (args.length > 1) args(1).toInt else 2
    val dim = if (args.length > 2) args(2).toInt else 32
    val anchorN = if (args.length > 3) args(3).toLong else 100000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def corpus(n: Long): DataFrame =
      spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64(col("id") * dim + j + 7L), lit(2000))
            .cast("double") / 1000 - 1).cast("float")).as("embedding"))

    /** Exact candidate-pair volume of the band self-join under a scheme:
      * sum over (band, h) of c(c-1)/2.
      */
    def candidateVolume(emb: DataFrame, nBands: Int, bits: Int): Long =
      emb.select(explode(VectorFunctions.hyperplaneBands(
          col("embedding"), dim, nBands, bits, 42L)).as("bh"))
        .groupBy(col("bh.band"), col("bh.h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2).cast("long"))
        .head().getLong(0)

    val sizes = (0 to quadruplings).map(k => nBase << (2 * k))
    val rows = sizes.map { n =>
      val emb = Materialize.pin(corpus(n), eager = true)
      val plan = Ann.lshPlan(n, threshold = 0.95)
      val fixedVol = candidateVolume(emb, 16, 8)
      val autoVol = candidateVolume(emb, plan.nBands, plan.bitsPerBand)
      Materialize.free(emb)
      (n, fixedVol, autoVol, plan)
    }
    // wall-time anchor: the candidate volumes above are the dominant
    // cost; confirm the operator tracks them
    val embSmall = Materialize.pin(corpus(anchorN), eager = true)
    def timedRun(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (fixedSec, fixedPairs) = timedRun(
      Ann.nearDupPairs(embSmall, dim, 0.95, nBands = 16, bitsPerBand = 8,
        maxBucket = Long.MaxValue).count())
    val (autoSec, autoPairs) = timedRun(
      Ann.nearDupPairsAuto(embSmall, dim, 0.95,
        maxBucket = Long.MaxValue).count())
    Materialize.free(embSmall)

    val perSize = rows.map { case (n, fv, av, p) =>
      s"""{"n":$n,"fixed_16x8_cands":$fv,"auto_cands":$av,""" +
        s""""auto_bits":${p.bitsPerBand},"auto_bands":${p.nBands},""" +
        f""""auto_recall":${p.expectedRecall}%.4f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"lsh_tune","sizes":$perSize,""" +
      f""""anchor_n":$anchorN,"fixed_sec":$fixedSec%.2f,""" +
      f""""auto_sec":$autoSec%.2f,"fixed_pairs":$fixedPairs,""" +
      s""""auto_pairs":$autoPairs}""")
    spark.stop()
  }
}
