package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental

/** Incremental corpus admission (Incremental.admit): planted duplicates
  * exercise every decision branch — the fixture corpus has no exact
  * dups, so q_corpus_delta's oracle alone never covers the exact paths
  * or the reason priority.
  */
class IncrementalSpec extends AnyFunSuite with LocalSparkSuite {

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // long enough for 5-gram shingles; two variants ~0.85 jaccard
  private val baseText = (1 to 40).map(i => s"tok${i}").mkString(" ")
  private val nearText = ((1 to 37).map(i => s"tok${i}") ++
    Seq("x1", "x2", "x3")).mkString(" ")
  private val otherText = (1 to 40).map(i => s"zzz${i}").mkString(" ")

  private def decisions(existing: Seq[(Long, String)],
      delta: Seq[(Long, String)]): Map[Long, String] =
    Incremental.admit(df(existing), df(delta))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("every decision branch: exact vs existing, exact vs earlier delta, " +
      "near vs existing, near vs earlier delta, accepted") {
    val got = decisions(
      existing = Seq(1L -> baseText),
      delta = Seq(
        10L -> baseText, // byte-identical to existing doc 1
        11L -> otherText, // fresh content
        12L -> otherText, // byte-identical to EARLIER delta doc 11
        13L -> nearText, // near-dup of existing doc 1 (not exact)
        14L -> (otherText + " y1 y2 y3"), // near-dup of earlier delta 11
        15L -> (1 to 40).map(i => s"qqq${i}").mkString(" "))) // accepted
    assert(got == Map(
      10L -> "exact_dup_existing",
      11L -> "accepted",
      12L -> "exact_dup_internal",
      13L -> "near_dup_existing",
      14L -> "near_dup_internal",
      15L -> "accepted"), s"got $got")
  }

  test("reason priority: an exact duplicate that also near-dups reports " +
      "the exact reason; existing outranks internal") {
    val got = decisions(
      existing = Seq(1L -> baseText),
      // 20 exactly matches existing AND near-matches nothing else;
      // 21 exactly matches BOTH existing(1) and earlier delta(20):
      // existing wins the tie
      delta = Seq(20L -> baseText, 21L -> baseText))
    assert(got(20L) == "exact_dup_existing")
    assert(got(21L) == "exact_dup_existing")
  }

  test("first-wins is greedy by doc_id, not acceptance-filtered: a chain " +
      "A<-B<-C rejects both B and C even though B was itself rejected") {
    // B near-dups A; C near-dups B (and transitively A) — streaming
    // first-claimant semantics: both report near_dup_internal
    val a = (1 to 40).map(i => s"ch${i}").mkString(" ")
    val b = ((1 to 37).map(i => s"ch${i}") ++ Seq("b1", "b2", "b3")).mkString(" ")
    val c = ((1 to 37).map(i => s"ch${i}") ++ Seq("b1", "b2", "c3")).mkString(" ")
    val got = decisions(existing = Seq.empty[(Long, String)],
      delta = Seq(30L -> a, 31L -> b, 32L -> c))
    assert(got == Map(30L -> "accepted", 31L -> "near_dup_internal",
      32L -> "near_dup_internal"), s"got $got")
  }

  test("the shingle cache is released after the decision materializes") {
    decisions(Seq(1L -> baseText), Seq(40L -> otherText))
    // the release listener fires asynchronously on the listener bus —
    // same bounded wait as MaterializeSpec
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "admit() leaked its shingle-set cache")
  }
}
