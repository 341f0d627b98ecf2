package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.RepetitionProfileExpr
import graft.functions.TextFunctions

/** RepetitionProfileExpr (the r18 one-pass rewrite of q_repetition's
  * hot path) against the original two-branch explode/group/join
  * formulation: the five profile integers must agree exactly on every
  * document, including whitespace runs, single-token docs (no grams),
  * repeated grams, and surrogate pairs.
  */
class RepetitionProfileSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private val docs = Seq(
    1L -> "a b a b a",                       // repeated tokens and grams
    2L -> "solo",                            // one token, zero grams
    3L -> "  leading   and\ttrailing \n ws ",// every \s separator class
    4L -> "x x x x x x",                     // one token repeated
    5L -> "😀 emoji 😀 emoji", // surrogate pairs
    6L -> "p q r s t u v w",                 // all-distinct
    7L -> "ab abab ab abab ab")              // gram "ab abab" repeats

  test("one-pass profile == explode/group/join formulation, per doc") {
    val df = docs.toDF("doc_id", "text")

    val tokStats = df
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        max("c").cast("long").as("top_n"))
    val gramStats = df
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(col("text"), 2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_grams"),
        max("c").cast("long").as("top_g"))
    val composed = tokStats.join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_n"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("top_g"), lit(0L)).as("top_g"))
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)

    val native = df
      .select(col("doc_id"), RepetitionProfileExpr(col("text")).as("p"))
      .where(col("p.n_tokens") > 0)
      .select(col("doc_id"), col("p.n_tokens"), col("p.n_distinct"),
        col("p.top_n"), col("p.n_grams"), col("p.top_g"))
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)

    assert(native.toSeq == composed.toSeq)
  }

  test("NULL text and zero-token text emit no row (old explode behavior)") {
    val df = Seq((1L, null: String), (2L, "   \t  "), (3L, "ok ok"))
      .toDF("doc_id", "text")
    val ids = df
      .select(col("doc_id"), RepetitionProfileExpr(col("text")).as("p"))
      .where(col("p").isNotNull && col("p.n_tokens") > 0)
      .select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(3L))
  }
}
