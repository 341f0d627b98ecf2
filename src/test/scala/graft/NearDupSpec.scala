package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Embedding near-duplicate detection (Ann.nearDupPairs): planted
  * cosine>0.99 duplicates MUST be found (multi-band hyperplane LSH recall
  * at that similarity is ~1 - (1 - 0.955^bits)^bands ~ 1.0), and distant
  * pairs must NOT appear (the exact-cosine verification step filters any
  * accidental bucket collision).
  */
class NearDupSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private val Dim = 32

  /** 100 well-separated random base vectors; the first 20 each get a
    * planted near-duplicate (id+1000) at cosine > 0.99 (tiny additive
    * noise relative to the base norm).
    */
  private def corpus = {
    val rng = new scala.util.Random(7)
    val bases = (0 until 100).map { i =>
      (i.toLong, Array.fill(Dim)(rng.nextGaussian().toFloat))
    }
    val dups = bases.take(20).map { case (id, v) =>
      (id + 1000L, v.map(x => x + rng.nextGaussian().toFloat * 0.01f))
    }
    (bases ++ dups).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
  }

  test("every planted cosine>0.99 duplicate pair is found") {
    val pairs = Ann.nearDupPairs(corpus, Dim, threshold = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val planted = (0L until 20L).map(i => (i, i + 1000L)).toSet
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${planted -- pairs}")
  }

  test("no pair below the threshold survives verification") {
    val out = Ann.nearDupPairs(corpus, Dim, threshold = 0.99)
      .select("a", "b", "score")
      .as[(Long, Long, Double)].collect()
    assert(out.forall(_._3 >= 0.99))
    // random 32-dim gaussians are near-orthogonal: nothing but the
    // planted pairs should clear 0.99
    val planted = (0L until 20L).map(i => (i, i + 1000L)).toSet
    assert(out.map(r => (r._1, r._2)).toSet == planted)
  }

  test("pair set is invariant under input partitioning") {
    val once = Ann.nearDupPairs(corpus, Dim, threshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val repart = Ann.nearDupPairs(corpus.repartition(7), Dim, threshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(once == repart)
    assert(once.nonEmpty)
  }

  test("the fixture-threshold configuration also verifies exactly") {
    // the demoted fixed-scheme ledger query's shape (now spec-only —
    // the ledger rides q_embed_neardup_auto): moderate threshold. Every
    // emitted pair's score must equal the exact (rounded) cosine.
    val out = Ann.nearDupPairs(corpus, Dim, threshold = 0.4)
    import org.apache.spark.sql.functions._
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val checked = out
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      .select(col("score"),
        graft.queries.Det.r4(graft.functions.VectorFunctions.cosine(
          col("va"), col("vb"))).as("exact"))
      .as[(Double, Double)].collect()
    assert(checked.nonEmpty)
    assert(checked.forall { case (s, e) => s == e })
  }

  test("keeper-direct form equals all-pairs component consolidation " +
      "in the duplicate-cluster regime") {
    // The r17 scale-safe path: nearDupKeepersAuto (star edges per LSH
    // bucket + components) must produce the SAME (vec_id -> keeper)
    // assignment as consolidating nearDupPairsAuto's full verified pair
    // set on duplicate-cluster-shaped data — near-identical members,
    // clique-shaped above-threshold relation: the planted cosine>0.99
    // pairs here, and dense clusters in the test below.
    import org.apache.spark.sql.functions.col
    val t = 0.99
    val viaAllPairs = graft.operators.Components.connectedComponents(
        Ann.nearDupPairsAuto(corpus, Dim, threshold = t)
          .select(col("a"), col("b")))
      .as[(Long, Long)].collect().toSet
    val keepers = Ann.nearDupKeepersAuto(corpus, Dim, threshold = t)
      .as[(Long, Long)].collect().toSet
    assert(keepers == viaAllPairs,
      s"keeper-direct ${keepers.size} rows vs " +
        s"all-pairs consolidation ${viaAllPairs.size}")
    assert(keepers.nonEmpty)
  }

  test("outside the clique regime star components REFINE all-pairs " +
      "components (never merge across, never add nodes)") {
    // At a loose threshold over random gaussians the above-threshold
    // relation has bridges (x~y above t while both below t vs their
    // bucket min) — the documented case where the star misses an edge.
    // The guaranteed relationship: every verified star edge is also an
    // all-pairs verified pair, so star components are a refinement —
    // each keeper maps into the all-pairs component of the same node,
    // and the star node set is a subset.
    import org.apache.spark.sql.functions.col
    val t = 0.4
    val allComp = graft.operators.Components.connectedComponents(
        Ann.nearDupPairsAuto(corpus, Dim, threshold = t)
          .select(col("a"), col("b")))
      .as[(Long, Long)].collect().toMap
    val keepers = Ann.nearDupKeepersAuto(corpus, Dim, threshold = t)
      .as[(Long, Long)].collect()
    assert(keepers.nonEmpty)
    keepers.foreach { case (v, k) =>
      assert(allComp.contains(v) && allComp.contains(k),
        s"star node ($v -> $k) missing from the all-pairs graph")
      assert(allComp(v) == allComp(k),
        s"star put $v under $k but all-pairs separates them")
    }
  }

  test("keeper-direct equality on a dense duplicate cluster") {
    // 60 near-identical members (the clone-cluster regime that makes
    // the all-pairs form output-bound at scale) + 40 distant vectors:
    // keeper assignment identical between the two forms, all 60 under
    // the min id.
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(11)
    val cluster = (0 until 60).map { i =>
      (500L + i,
        (0 until Dim).map(d => 1.0f + rng.nextGaussian().toFloat * 0.001f))
    }
    val far = (0 until 40).map { i =>
      (900L + i, (0 until Dim).map(_ => rng.nextGaussian().toFloat))
    }
    val df = (cluster ++ far).toDF("vec_id", "embedding")
    val viaAllPairs = graft.operators.Components.connectedComponents(
        Ann.nearDupPairsAuto(df, Dim, threshold = 0.99)
          .select(col("a"), col("b")))
      .as[(Long, Long)].collect().toSet
    val keepers = Ann.nearDupKeepersAuto(df, Dim, threshold = 0.99)
      .as[(Long, Long)].collect().toSet
    assert(keepers == viaAllPairs)
    assert((500L until 560L).map(v => (v, 500L)).toSet.subsetOf(keepers))
  }

  test("star edges are verified and star-shaped per duplicate cluster") {
    // every emitted edge scores >= threshold, a is always < b (a is a
    // bucket min), and a c-member exact-duplicate cluster contributes
    // exactly c-1 edges (the O(c) contract vs C(c,2) for all-pairs)
    val dup = (0 until 50).map { i =>
      (100L + i, Seq.fill(Dim)(1.0f / math.sqrt(Dim.toFloat).toFloat))
    }.toDF("vec_id", "embedding")
    val plan = Ann.lshPlan(50L, 0.99)
    val edges = Ann.nearDupStarEdges(dup, Dim, 0.99, plan)
      .as[(Long, Long, Double)].collect()
    assert(edges.length == 49, s"expected 49 star edges, got ${edges.length}")
    assert(edges.forall(_._1 == 100L)) // hub = min id of the cluster
    assert(edges.forall(e => e._1 < e._2 && e._3 >= 0.99))
  }
}
