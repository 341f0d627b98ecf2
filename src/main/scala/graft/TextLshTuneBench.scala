package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Sessions}
import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.Ann
import graft.queries.Tables

/** LshTuneBench's TEXT-path sibling: measured candidate-pair volume of
  * the MinHash band self-join under the ledger's fixed 64-perm/16-band
  * scheme vs the Ann.lshPlanJaccard auto-sized scheme, on REAL document
  * fixtures (pass several — e.g. the sf0.1 base plus ScaleFixture
  * mult dirs — to read the growth curve). Volume is computed exactly as
  * sum c(c-1)/2 over (band, h) bucket populations — the cost driver of
  * the candidate join without running it. The fixed text scheme
  * measured SUB-linear at mult=100 (background text pairs share almost
  * no shingles, so Jaccard banding degrades gracefully — unlike the
  * hyperplane family's n²/2^bits pigeonhole), which is why q_minhash_lsh
  * keeps the fixed form; this bench is the evidence either way, per
  * corpus, and prints the auto plan actually measured.
  *
  * Usage: runMain graft.TextLshTuneBench <sfDir> [sfDir2 ...]
  * — prints one JSON line with, per dir, doc count, fixed/auto volumes
  * and the auto scheme.
  */
object TextLshTuneBench {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Σ c(c-1)/2 over (band, h) of the banded MinHash projection. */
    def candidateVolume(sets: DataFrame, nPerms: Int, nBands: Int): Long =
      sets.select(col("doc_id"),
          explode(HashFunctions.lshBands(
            HashFunctions.minhashSignature(col("sh"), nPerms),
            nBands, nPerms / nBands)).as("bh"))
        .groupBy(col("bh.band"), col("bh.h"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0))
          .cast("long"))
        .head().getLong(0)

    val rows = dirs.map { dir =>
      val sets = Materialize.pin(Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          array_distinct(TextFunctions.wordShingles(col("text"), 5))
            .as("sh")), eager = false)
      val n = sets.count()
      val plan = Ann.lshPlanJaccard(n, 0.8)
      val fixedVol = candidateVolume(sets, 64, 16)
      val autoVol = candidateVolume(sets,
        plan.bitsPerBand * plan.nBands, plan.nBands)
      Materialize.free(sets)
      (dir, n, fixedVol, autoVol, plan)
    }
    val body = rows.map { case (dir, n, fv, av, pl) =>
      s"""{"dir":"$dir","n_docs":$n,"fixed_64x16_cands":$fv,""" +
        s""""auto_cands":$av,"auto_rows":${pl.bitsPerBand},""" +
        s""""auto_bands":${pl.nBands},""" +
        f""""auto_recall":${pl.expectedRecall}%.4f}"""
    }.mkString(",")
    println(s"""{"metric":"text_lsh_tune","points":[$body]}""")
    spark.stop()
  }
}
