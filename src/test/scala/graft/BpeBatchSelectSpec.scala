package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** Unit coverage of Bpe.selectBatch — the pure batching rule the
  * distributed trainer's sequential-equivalence proof rests on. The
  * organic sweeps (BpePropertiesSpec) exercise the rule through whole
  * vocabularies; this spec PLANTS the window shapes directly, including
  * the pre-existing-aliased-symbol case (rule 3) that no organic
  * vocabulary has ever produced: a batch member whose merged symbol
  * equals a merge learned in a previous round can grow pre-existing
  * pairs OUTSIDE the fetched window past `bound`, so nothing may be
  * applied after it within the batch.
  */
class BpeBatchSelectSpec extends AnyFunSuite with LocalSparkSuite {

  private def wcDf(wc: Map[String, Long]): DataFrame = {
    import spark.implicits._
    wc.toSeq.toDF("word", "cnt")
  }

  // --- rule 3: alias closure (the planted adversarial case) ------------

  test("PLANTED alias: a member minting a previously-learned symbol closes " +
      "the batch — followers are deferred even when non-interacting") {
    // "abc" was learned in an earlier round; (a, bc) re-mints it. Without
    // rule 3 the window would batch all three pairs (pairwise
    // non-interacting, counts strictly descending); a pre-existing
    // (x2, abc) pair outside the window at count <= 60 could then gain
    // minted occurrences past (x, y)'s 60 mid-batch, breaking sequential
    // order. The batch must stop at the aliasing member.
    val top = Seq(("a", "bc", 100L), ("x", "y", 60L), ("p", "q", 55L))
    val got = Bpe.selectBatch(top, want = 16, learned = Set("abc"))
    assert(got == Seq(("a", "bc", 100L)))
  }

  test("PLANTED alias at the head: batch degrades to exactly the " +
      "sequential step") {
    val top = Seq(("a", "bc", 100L), ("x", "y", 99L))
    assert(Bpe.selectBatch(top, 16, Set("abc")) == Seq(("a", "bc", 100L)))
  }

  test("PLANTED alias mid-batch: members before the aliasing one survive, " +
      "the aliasing member is last, truncation vs the follower still applies") {
    val learned = Set("abc")
    // aliasing member second: head + aliasing member batch together
    // (the aliasing member is valid at its own sequential position —
    // earlier members are alias-free), follower deferred
    val t1 = Seq(("x", "y", 100L), ("a", "bc", 80L), ("p", "q", 70L))
    assert(Bpe.selectBatch(t1, 16, learned) ==
      Seq(("x", "y", 100L), ("a", "bc", 80L)))
    // tie with the deferred follower: rule 2's strict-dominance
    // truncation drops the aliasing member too (it is non-head)
    val t2 = Seq(("x", "y", 100L), ("a", "bc", 70L), ("p", "q", 70L))
    assert(Bpe.selectBatch(t2, 16, learned) == Seq(("x", "y", 100L)))
  }

  test("no alias, no interaction: the full window prefix batches (the " +
      "wide-batch case that keeps occupancy above 1)") {
    val top = Seq(("a", "b", 50L), ("a", "c", 40L), ("x", "y", 30L))
    // same-left (a,b)/(a,c) is non-interacting directionally (an
    // occurrence of one never consumes or creates one of the other) and
    // (x,y) shares nothing; learned set does not contain "ab"/"ac"/"xy"
    assert(Bpe.selectBatch(top, 16, Set("zz")) == top)
  }

  // --- rules 1-2 regression (pre-existing behavior, now unit-pinned) ---

  test("consumption interaction excludes and bounds: (b,c) after (a,b)") {
    val top = Seq(("a", "b", 50L), ("b", "c", 40L), ("d", "e", 39L))
    // (b,c)'s left is (a,b)'s right — merging (a,b) consumes b's — so
    // the prefix stops there; (d,e) is past the first exclusion and
    // never considered (contiguity)
    assert(Bpe.selectBatch(top, 16, Set.empty) == Seq(("a", "b", 50L)))
  }

  test("intra-window alias (ms(m)) is still an interaction: (ab,c) after (a,bc)") {
    val top = Seq(("a", "bc", 50L), ("ab", "c", 40L))
    assert(Bpe.selectBatch(top, 16, Set.empty) == Seq(("a", "bc", 50L)))
  }

  test("want caps the prefix and the sentinel bounds truncation") {
    val top = Seq(("a", "b", 50L), ("c", "d", 50L), ("e", "f", 50L))
    // want=2: third candidate sets bound=50; (c,d) is non-head at
    // count == bound, so strict dominance drops it
    assert(Bpe.selectBatch(top, 2, Set.empty) == Seq(("a", "b", 50L)))
  }

  // --- end-to-end: alias-prone vocabulary, batched == sequential -------

  test("alias-prone vocabulary trains identically batched, sequential, " +
      "and in-memory") {
    // "aab"-family vocabulary: merged symbols are concatenations of each
    // other ("aa"+"b" vs "a"+"ab"), count plateaus force tie-breaks, and
    // chains (aa -> aab -> aabb) maximize the chance a window candidate's
    // concatenation collides with a learned merge.
    val wc = Map(
      "aab" -> 40L, "ab" -> 35L, "aabb" -> 30L, "aaab" -> 25L,
      "ba" -> 25L, "bb" -> 20L, "aa" -> 20L, "abab" -> 15L,
      "baab" -> 10L, "aabab" -> 5L)
    val batched = Bpe.train(wcDf(wc), 12)
    assert(batched == Bpe.train(wcDf(wc), 12, maxBatch = 1))
    assert(batched == Bpe.trainLocal(wcDf(wc), 12))
    assert(batched.map(m => (m.left, m.right)) == BpeModel.train(wc, 12))
  }
}
