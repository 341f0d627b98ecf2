package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Planted-row semantics for the repetition quality filters and the PII /
  * identifier scrubbing query (both also oracle-checked on the fixture via
  * the driver gate; this pins the metric math on hand-constructed inputs).
  */
class TextQualitySpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private lazy val dir: String = {
    val d = tempPath("textquality")
    Seq(
      (1L, "a a a a a a a a a a", "en", "srcA", 19L),
      (2L, "the quick brown fox jumps over a lazy dog", "en", "srcA", 41L),
      (3L, "hello", "en", "srcB", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    Seq(
      (1L, "Customer#000012345 mail bob@example.com end", 0, 0.0, "SEG"),
      (2L, "no identifiers here", 0, 0.0, "SEG"),
      (3L, "short 123 run", 0, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")
    d
  }

  test("q_repetition: planted repetitive doc is dropped, diverse doc kept") {
    val rows = TextQueries.defs("q_repetition").build(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: one token repeated 10x -> fully repetitive.
    val r1 = rows(1L)
    assert(r1.getAs[Long]("n_tokens") === 10L)
    assert(r1.getAs[Double]("distinct_ratio") === 0.1)
    assert(r1.getAs[Double]("top_token_frac") === 1.0)
    assert(r1.getAs[Double]("top_2gram_frac") === 1.0)
    assert(r1.getAs[Int]("keep") === 0)
    // doc 2: 9 distinct tokens -> diverse, kept.
    val r2 = rows(2L)
    assert(r2.getAs[Long]("n_tokens") === 9L)
    assert(r2.getAs[Double]("distinct_ratio") === 1.0)
    assert(r2.getAs[Double]("top_2gram_frac") === 0.125)
    assert(r2.getAs[Int]("keep") === 1)
    // doc 3: single token -> no 2-grams; frac coalesces to 0, kept.
    val r3 = rows(3L)
    assert(r3.getAs[Long]("n_tokens") === 1L)
    assert(r3.getAs[Double]("top_2gram_frac") === 0.0)
    assert(r3.getAs[Int]("keep") === 1)
  }

  test("q_pii_redact: masks emails then digit runs and counts both") {
    val rows = TextQueries.defs("q_pii_redact").build(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    assert(r1.getAs[String]("scrubbed") ===
      "Customer#[ID] mail [EMAIL] end")
    assert(r1.getAs[Long]("n_redactions") === 2L)
    // nothing to redact -> text unchanged, count 0.
    assert(rows(2L).getAs[String]("scrubbed") === "no identifiers here")
    assert(rows(2L).getAs[Long]("n_redactions") === 0L)
    // a 3-digit run is below the >=6 threshold.
    assert(rows(3L).getAs[String]("scrubbed") === "short 123 run")
    assert(rows(3L).getAs[Long]("n_redactions") === 0L)
  }
}
