package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

/** Near-dup consolidation: connected components by iterative min-label
  * propagation must label every vertex with its cluster's min id,
  * across multi-hop chains, and stay partition-invariant.
  */
class ComponentsSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  test("multi-hop chains, separate clusters, and singletons-by-edge") {
    // components: {1,2,3,4} via chain 4-3, 3-2, 2-1; {10,11}; {20,21,22}
    // via shared hub 20
    val edges = Seq(
      (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("a", "b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("long path needs multiple propagation rounds") {
    // a 12-vertex path: min label must travel the whole diameter
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 11L).map(_ -> 0L).toMap)
  }

  test("result is invariant under edge partitioning and direction") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 8L)).toDF("a", "b")
    val flipped = Seq((9L, 5L), (2L, 9L), (8L, 7L)).toDF("a", "b")
      .repartition(7)
    val e1 = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toSet
    val e2 = Components.connectedComponents(flipped)
      .as[(Long, Long)].collect().toSet
    assert(e1 == e2)
    assert(e1 == Set((5L, 2L), (9L, 2L), (2L, 2L), (7L, 7L), (8L, 7L)))
  }
}
