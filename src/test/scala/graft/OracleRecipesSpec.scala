package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, max, min, when}
import org.scalatest.funsuite.AnyFunSuite

/** The scale recipes of `tools/check_correctness.py --chunked`: the 11
  * queries whose single-shot DuckDB oracle breaks at big fixtures run a
  * chunked or linear re-derivation of the same semantics instead. Big
  * fixtures are the only place those recipes are needed, so this spec
  * drives them at sf0.001: every recipe must match the Spark dump, at the
  * full compare and at a sub-block stride, and a planted fault in two
  * dumps must fail exactly those two queries.
  */
class OracleRecipesSpec extends AnyFunSuite with LocalSparkSuite {

  private val SfDir = "/root/testdata/sf0.001"
  private val Recipes = Set("q_corpus_build", "q_dedup_keepers",
    "q_embed_keepers_auto", "q_embed_neardup_auto", "q_ewma",
    "q_media_audiohash", "q_minhash_lsh_auto", "q_neardup_components",
    "q_ngram_jaccard", "q_semdedup", "q_simhash")

  /** The recipe queries dumped as `graft.Verify` dumps them. */
  private lazy val dump: String = {
    val out = tempPath("recipes-dump")
    val failed = Verify.dumpAll(spark, SfDir, out,
      SparkEntry.queries.view.filterKeys(Recipes).toMap)
    assert(failed.isEmpty, s"dump failed: $failed")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Recipes.toSeq
      .map(q => s"${Verify.jstr(q)}: ${Verify.jstr(SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}"))
    out
  }

  /** Runs the checker's chunked mode over `dir`: its exit code, the
    * per-query verdicts of its report, and its output for messages. */
  private def chunked(dir: String, extra: String*)
      : (Int, Map[String, Boolean], String) = {
    val report = tempPath("report") + ".json"
    val log = new StringBuilder
    val code = Process(Seq("python3", "tools/check_correctness.py", SfDir,
      dir, "--chunked", "--json", report) ++ extra).!(ProcessLogger(
      l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    val queries = new ObjectMapper().readTree(new java.io.File(report))
      .get("queries")
    val verdicts = queries.fieldNames.asScala
      .map(q => q -> queries.get(q).get("match").asBoolean).toMap
    (code, verdicts, log.toString)
  }

  test("every recipe matches its query's dump") {
    val (code, verdicts, log) = chunked(dump)
    assert(code == 0, log)
    assert(verdicts == Recipes.map(_ -> true).toMap, log)
  }

  test("the sub-block compare at --stride 2 passes") {
    val (code, verdicts, log) = chunked(dump, "--stride", "2")
    assert(code == 0, log)
    assert(verdicts.keySet == Recipes, log)
  }

  test("a dropped row and a changed value fail exactly their queries") {
    val bad = tempPath("recipes-bad")
    val from = Paths.get(dump)
    Using.resource(Files.walk(from))(_.iterator.asScala.foreach { p: Path =>
      Files.copy(p, Paths.get(bad).resolve(from.relativize(p).toString))
    })
    val ewma = spark.read.parquet(s"$dump/q_ewma")
    val firstUser = ewma.agg(min("user_id")).head.getLong(0)
    ewma.filter(col("user_id") =!= firstUser)
      .write.mode("overwrite").parquet(s"$bad/q_ewma")
    val comps = spark.read.parquet(s"$dump/q_neardup_components")
    val lastDoc = comps.agg(max("doc_id")).head.getLong(0)
    comps.withColumn("component_id", when(col("doc_id") === lastDoc,
        col("component_id") + 1).otherwise(col("component_id")))
      .write.mode("overwrite").parquet(s"$bad/q_neardup_components")

    val (code, verdicts, log) = chunked(bad)
    assert(code == 1, log)
    assert(verdicts.keySet == Recipes, log)
    assert(verdicts.filterNot(_._2).keySet ==
      Set("q_ewma", "q_neardup_components"), log)
  }
}
