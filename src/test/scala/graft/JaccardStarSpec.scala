package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQueries

/** The text-path STAR consolidation (SimilarityQueries.jaccardStarEdges,
  * VERDICT r17 item 6 — the twin of Ann.nearDupStarEdges): keeper-set
  * equality with the all-pairs form in the clique regime, the honest
  * refinement caveat outside it, and the verified-edge contract.
  */
class JaccardStarSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private val T = 8000L // the ledger's 0.8 jaccard cut, integer-quantized

  private def sets(rows: (Long, Seq[String])*) =
    rows.toDF("doc_id", "sh")

  test("every emitted star edge is exact-verified above the cut, a < b") {
    // clique: three near-identical shingle sets (pairwise j = 10/12)
    val common = (0 until 10).map(i => s"c$i")
    val out = SimilarityQueries.jaccardStarEdgesFrom(
      sets((1L, common :+ "x1"), (2L, common :+ "x2"), (3L, common :+ "x3")),
      T).as[(Long, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, j) => a < b && j >= 0.8 })
  }

  test("clique regime: star keepers equal all-pairs keepers " +
      "(min-id member kept, rest dropped)") {
    // two disjoint duplicate cliques + a singleton; the above-threshold
    // relation within each bucket is a clique containing the bucket min,
    // so components over star edges must equal components over all pairs
    val c1 = (0 until 10).map(i => s"a$i")
    val c2 = (0 until 10).map(i => s"b$i")
    val s = sets(
      (1L, c1 :+ "u1"), (2L, c1 :+ "u2"), (3L, c1 :+ "u3"),
      (10L, c2 :+ "v1"), (11L, c2 :+ "v2"),
      (99L, (0 until 10).map(i => s"z$i")))
    val comp = graft.operators.Components.connectedComponents(
      SimilarityQueries.jaccardStarEdgesFrom(s, T).select(col("a"), col("b")))
      .as[(Long, Long)].collect().toMap
    // all-pairs consolidation on these cliques: {1,2,3} -> 1, {10,11} -> 10
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("refinement caveat (honest): a bridge whose buckets are all " +
      "dominated by a below-threshold min is MISSED, never over-merged") {
    // docs 2 and 3 are near-dups (j = 10/12) but EVERY shingle they share
    // also appears in doc 1 (the bucket min), which is below threshold vs
    // both (j = 10/26) — the star links only 1-2 and 1-3, both of which
    // fail exact verification, so no merge is found where the all-pairs
    // graph finds {2,3}. This is the documented REFINES contract (same
    // pin as NearDupSpec's embedding-star case): exact verification
    // guarantees the star never over-merges, and q_dedup_keepers remains
    // the oracle anchor where its all-pairs output fits.
    val common = (0 until 10).map(i => s"c$i")
    val s = sets(
      (1L, common ++ (0 until 15).map(i => s"only1_$i")),
      (2L, common :+ "x"),
      (3L, common :+ "y"))
    val edges = SimilarityQueries.jaccardStarEdgesFrom(s, T)
      .as[(Long, Long, Double)].collect()
    assert(edges.isEmpty, s"star should find no verified edge here: " +
      edges.mkString(", "))
    // sanity: the bridge the star misses is real (j(2,3) above the cut)
    val j23 = common.size.toDouble /
      (common.size + 2) // |inter|=10, |union|=12
    assert(j23 >= 0.8)
  }

  test("ledger equality pin: q_dedup_keepers_star equals q_dedup_keepers " +
      "on the committed fixture (clique-shaped near-dup clusters)") {
    val dir = "/root/testdata/sf0.001"
    val star = SparkEntry.queries("q_dedup_keepers_star")(spark, dir)
      .as[Long].collect().toSet
    val allPairs = SparkEntry.queries("q_dedup_keepers")(spark, dir)
      .as[Long].collect().toSet
    assert(star === allPairs)
    assert(star.nonEmpty)
  }
}
