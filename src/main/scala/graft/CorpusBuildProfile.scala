package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Sessions}
import graft.operators.NearDup

/** Stage-level cost breakdown for q_corpus_build (guide §1.1/§7.1): times
  * each composed stage in isolation with the bench's own methodology
  * (clearCache + noop sink, min of N) so the dominant stage is measured,
  * not guessed. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.CorpusBuildProfile"
  */
object CorpusBuildProfile {
  def main(args: Array[String]): Unit = {
    Sessions.assertJdkOpens()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietSupersededCheckpointWarnings()

    val stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "full_q_corpus_build" -> SparkEntry.queries("q_corpus_build"),
      "jaccard_pairs_thresholded" ->
        ((s: SparkSession, dir: String) =>
          graft.queries.SimilarityQueries.jaccardPairsForProfile(s, dir)),
      "components_over_pairs" -> ((s: SparkSession, dir: String) =>
        NearDup.components(
          graft.queries.SimilarityQueries.jaccardPairsForProfile(s, dir))),
      "exact_keep_only" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        graft.queries.Tables.load(s, dir, "documents")
          .withColumn("h", coalesce(md5(col("text").cast("binary")),
            concat(lit("null:"), col("doc_id"))))
          .withColumn("rn",
            row_number().over(Window.partitionBy("h").orderBy("doc_id")))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("text"))
      }),
      "shingle_sets_scan" -> ((s: SparkSession, dir: String) => {
        import graft.functions.TextFunctions
        graft.queries.Tables.load(s, dir, "documents")
          .select(col("doc_id"), array_distinct(
            TextFunctions.wordShingles(col("text"), 5)).as("sh"))
      }),
      "cands_through_distinct" -> ((s: SparkSession, dir: String) => {
        import graft.functions.TextFunctions
        val sets = Materialize.pin(
          graft.queries.Tables.load(s, dir, "documents")
            .select(col("doc_id"), array_distinct(
              TextFunctions.wordShingles(col("text"), 5)).as("sh")),
          eager = true)
        val cands = NearDup.bucketPairs(
          NearDup.capDocFreq(NearDup.shingleHashes(sets), 50), "doc_id",
          Seq("s"), None)
        Materialize.releaseAfterFirstUse(cands, sets)
      }),
      // q_heavy_hitters stage split (VERDICT r19 item 8): the CMS grid
      // pass alone vs the candidate (distinct+probe) pass alone vs the
      // full query — the two passes a single-output aggregation cannot
      // fuse without a vocab-scale buffer (the operator's scaladoc
      // rejection, here given its number)
      "hh_grid_pass_only" -> ((s: SparkSession, dir: String) => {
        import s.implicits._
        import graft.functions.TextFunctions
        val cms = graft.functions.Aggregators.countMin(4, 2048)
        val toks = graft.queries.Tables.load(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("token"))
          .as[String]
        val grid = toks.select(cms.toColumn.name("grid"))
        grid.toDF()
      }),
      "hh_candidates_only" -> ((s: SparkSession, dir: String) => {
        import graft.functions.TextFunctions
        graft.queries.Tables.load(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("token"))
          .distinct()
      }),
      "hh_full_query" -> SparkEntry.queries("q_heavy_hitters"),
      "quality_chunks_only" -> ((s: SparkSession, dir: String) => {
        import graft.functions.TextFunctions
        val clean = graft.queries.Tables.load(s, dir, "documents")
          .where(TextFunctions.qualityScoreQ(col("text")) >= 6000L)
        val t = TextFunctions.tokens(col("text"))
        val lastIdx = floor((col("n") - 1).cast("double") / 24).cast("int")
        clean.select(col("doc_id"), t.as("toks"), size(t).as("n"))
          .where(col("n") > 0)
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), lastIdx)).as("i"))
          .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
            slice(col("toks"), col("i") * 24 + 1, lit(32)).as("chunk"))
      }))

    def time(fn: (SparkSession, String) => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup
    stages.foreach { case (_, fn) => time(fn) }
    val mins = stages.map { case (name, fn) =>
      name -> (1 to reps).map(_ => time(fn)).min
    }
    mins.foreach { case (n, v) =>
      println(f"[corpus-profile] $n%-28s $v%7.3f s")
    }
    spark.stop()
  }
}
