package graft

import org.scalatest.funsuite.AnyFunSuite

/** Empirical recall of the MinHash-LSH near-dup path against the exact
  * shingle-Jaccard path, on the real sf0.001 fixture corpus.
  *
  * The banding theory (16 bands x 4 rows over 64 perms) says a pair at
  * j >= 0.8 collides in >= 1 band with probability 1 - (1-j^4)^16 >
  * 0.999 — this spec turns that comment into evidence: EVERY pair the
  * exact path emits must also be emitted by the LSH path, with the same
  * (rounded) jaccard, since both verify candidates exactly.
  */
class LshRecallSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def cores = 8

  private val SfDir = "/root/testdata/sf0.001"

  test("every exact j>=0.8 pair is found by the MinHash-LSH path") {
    import spark.implicits._
    val exact = SparkEntry.queries("q_ngram_jaccard")(spark, SfDir)
      .select("a", "b", "j").as[(Long, Long, Double)].collect()
    val lsh = SparkEntry.queries("q_minhash_lsh")(spark, SfDir)
      .select("a", "b", "j").as[(Long, Long, Double)].collect()
    assert(exact.nonEmpty, "fixture must contain j>=0.8 pairs")
    val exactPairs = exact.map(r => (r._1, r._2)).toSet
    val lshPairs = lsh.map(r => (r._1, r._2)).toSet
    assert(exactPairs.subsetOf(lshPairs),
      s"LSH missed ${exactPairs -- lshPairs} of ${exactPairs.size} pairs")
    // identical exact-jaccard verification on the common pairs
    val exactJ = exact.map(r => (r._1, r._2) -> r._3).toMap
    val lshJ = lsh.map(r => (r._1, r._2) -> r._3).toMap
    assert(exactPairs.forall(p => exactJ(p) == lshJ(p)))
    // and the LSH path never emits a pair the exact path rejects: both
    // filter on the same exact j threshold, so the sets must be EQUAL
    assert(lshPairs == exactPairs)
  }

  test("the cheaper 32-perm/8-band ingest config: recall measured " +
      "against the exact path (deterministic under the fixed seed)") {
    import spark.implicits._
    val exactPairs = SparkEntry.queries("q_ngram_jaccard")(spark, SfDir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val cheap = graft.queries.SimilarityQueries
      .minhashLshPairs(spark, SfDir, 32, 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty)
    // precision stays exact (identical verify stage + cut)
    assert(cheap.subsetOf(exactPairs),
      s"32/8 emitted non-pairs ${cheap -- exactPairs}")
    val recall = cheap.intersect(exactPairs).size.toDouble / exactPairs.size
    info(f"32-perm/8-band recall vs exact: $recall%.3f " +
      f"(${cheap.size}/${exactPairs.size} pairs; theory >= " +
      f"${1 - math.pow(1 - math.pow(0.8, 4), 8)}%.3f at j=0.8)")
    // theory floor at j = 0.8 is 0.985; the fixture's duplicate pairs
    // sit well above 0.8, so full recall is the deterministic outcome —
    // a floor of 0.9 leaves room for future fixture pairs near the
    // threshold without weakening the evidence that 32/8 is usable
    assert(recall >= 0.9, f"32/8 recall $recall%.3f below floor")
  }

  test("minhashLshPairs rejects nBands = 0 by naming the values, not " +
      "with a division by zero") {
    val e = intercept[IllegalArgumentException](
      graft.queries.SimilarityQueries.minhashLshPairs(spark, SfDir, 64, 0))
    assert(e.getMessage.contains("nPerms=64") &&
      e.getMessage.contains("nBands=0"), e.getMessage)
  }
}
