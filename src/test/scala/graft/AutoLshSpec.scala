package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Ann.lshPlan / Ann.nearDupPairsAuto — the executable form of the
  * hot-bucket guard's "retune bitsPerBand to corpus size" advice.
  *
  * The sizing math is pinned directly (bits tracks log2(n/targetBucket),
  * bands reach the recall target via the banding formula, the capped
  * case reports its achieved recall instead of lying), and the behavior
  * is pinned at the operator level: a corpus large enough that FIXED
  * low bits trips the hot-bucket guard completes under the auto-sized
  * scheme and still finds every planted near-duplicate pair.
  */
class AutoLshSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def cores = 8

  test("bits tracks corpus size: E[bucket] pinned at targetBucket") {
    // n = targetBucket * 2^k gives exactly k bits (within the clamp)
    assert(Ann.lshPlan(256L << 10, 0.95).bitsPerBand == 10)
    assert(Ann.lshPlan(256L << 18, 0.95).bitsPerBand == 18)
    // a billion-vector corpus resolves to ~21 bits, not the fixed 8
    // (22 from n/targetBucket, stepped down once because holding the
    // 0.999 recall target at 22 bits would need >maxBands bands)
    assert(Ann.lshPlan(1000000000L, 0.95).bitsPerBand == 21)
    // tiny corpora clamp at minBits
    assert(Ann.lshPlan(100L, 0.95).bitsPerBand == 6)
    assert(Ann.lshPlan(1L, 0.95).bitsPerBand == 6)
  }

  test("bands hold the recall target at the threshold (banding formula)") {
    for (n <- Seq(10000L, 1000000L, 100000000L);
         t <- Seq(0.9, 0.95, 0.99)) {
      val plan = Ann.lshPlan(n, t)
      val p = 1.0 - math.acos(t) / math.Pi
      val recall =
        1.0 - math.pow(1.0 - math.pow(p, plan.bitsPerBand), plan.nBands)
      assert(plan.expectedRecall >= 0.999,
        s"n=$n t=$t: $plan misses the recall target")
      assert(math.abs(plan.expectedRecall - recall) < 1e-12,
        s"reported recall disagrees with the formula at n=$n t=$t")
    }
  }

  test("more bits per band demands more bands (volume/recall trade)") {
    val loose = Ann.lshPlan(256L << 8, 0.95)
    val tight = Ann.lshPlan(256L << 16, 0.95)
    assert(tight.bitsPerBand > loose.bitsPerBand)
    assert(tight.nBands >= loose.nBands)
  }

  test("an unreachable recall target is REPORTED, never silently missed") {
    // low threshold + tiny band budget: even minBits cannot reach the
    // target, so the plan lands at (minBits, maxBands) and its
    // expectedRecall says what the scheme actually achieves
    val plan = Ann.lshPlan(1000000000L, threshold = 0.5,
      targetRecall = 0.9999, maxBands = 4)
    assert(plan.bitsPerBand == 6, s"capped plan must fall to minBits: $plan")
    assert(plan.nBands == 4)
    assert(plan.expectedRecall < 0.9999,
      s"capped plan claims the unreachable target: $plan")
    val p = 1.0 - math.acos(0.5) / math.Pi
    val achievable = 1.0 - math.pow(1.0 - math.pow(p, 6), 4.0)
    assert(math.abs(plan.expectedRecall - achievable) < 1e-12)
  }

  test("degenerate inputs fail loudly") {
    intercept[IllegalArgumentException](Ann.lshPlan(0L, 0.95))
    intercept[IllegalArgumentException](Ann.lshPlan(10L, 1.0))
    intercept[IllegalArgumentException](Ann.lshPlan(10L, 0.95,
      targetRecall = 1.0))
  }

  /** Deterministic spread background (the SkewTortureSpec generator):
    * components uniform-ish in [-1, 1) from xxhash64 of the flat index.
    */
  private def background(n: Long, dim: Int) =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(xxhash64(col("id") * dim + j + 7L), lit(2000))
          .cast("double") / 1000 - 1).cast("float")).as("embedding"))

  test("under-resolved fixed bits trip the guard; the auto-sized scheme " +
      "completes and finds every planted near-dup pair") {
    import spark.implicits._
    val n = 12000L
    val dim = 16
    val base = background(n, dim)
    // plant 20 near-dup pairs: vector i paired with a copy whose first
    // component is nudged by 0.05 — cosine stays well above the 0.95
    // cut while the vectors differ (NOT the trivial identical case,
    // which collides in every band by construction)
    val dups = base.where(col("vec_id") % lit(600) === 0)
      .select((col("vec_id") + lit(1000000)).as("vec_id"),
        concat(
          slice(transform(col("embedding"), x => x + lit(0.05f)), 1, 1),
          slice(col("embedding"), 2, dim - 1)).as("embedding"))
    val emb = base.unionByName(dups)

    // fixed bits=3: 8 buckets over 12 020 vectors — pigeonhole puts the
    // worst bucket at >= n/8 ~ 1500 > maxBucket, and the guard trips
    val trip = intercept[IllegalStateException] {
      Ann.nearDupPairs(emb, dim, 0.95, nBands = 4, bitsPerBand = 3,
        maxBucket = 1024).collect()
    }
    assert(trip.getMessage.contains("under-resolved"))

    // the auto scheme sizes bits from the corpus count and completes
    val pairs = Ann.nearDupPairsAuto(emb, dim, 0.95, maxBucket = 1024)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val planted = (0L until n by 600L).map(i => (i, i + 1000000)).toSet
    assert(planted.subsetOf(pairs),
      s"auto scheme missed planted pairs: ${planted -- pairs}")
    // precision stays exact: the verification stage cuts on true cosine,
    // so every emitted pair really is above the threshold (recomputed
    // here in-JVM from the raw vectors)
    val vecs = emb.as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    pairs.foreach { case (a, b) =>
      val c = cos(vecs(a), vecs(b))
      assert(math.round(c * 10000) >= 9500,
        s"auto emitted a sub-threshold pair ($a,$b) at cosine $c")
    }
  }

  test("Jaccard form: rows track corpus size at the background-sim " +
      "base; bands hold the recall target via the banding formula") {
    // rows = ceil(ln(n/targetBucket)/ln(1/s_bg)) — log-n growth in
    // base 1/s_bg (0.1 default → one row per decade of corpus)
    assert(Ann.lshPlanJaccard(256L * 10, 0.8).bitsPerBand == 2) // minRows
    assert(Ann.lshPlanJaccard(256L * 10000, 0.8).bitsPerBand == 4)
    assert(Ann.lshPlanJaccard(1000000000L, 0.8).bitsPerBand == 7)
    // tiny corpora clamp at minRows
    assert(Ann.lshPlanJaccard(1L, 0.8).bitsPerBand == 2)
    for (n <- Seq(10000L, 1000000L, 1000000000L); t <- Seq(0.7, 0.8, 0.9)) {
      val plan = Ann.lshPlanJaccard(n, t)
      val recall =
        1.0 - math.pow(1.0 - math.pow(t, plan.bitsPerBand), plan.nBands)
      assert(plan.expectedRecall >= 0.999,
        s"n=$n t=$t: $plan misses the recall target")
      assert(math.abs(plan.expectedRecall - recall) < 1e-12,
        s"reported recall disagrees with the banding formula at n=$n t=$t")
    }
    // the fixture-scale plan reproduces the ledger's own operating
    // point: at ~500k docs the auto scheme lands on the SAME 4 rows as
    // the hand-picked 64-perm/16-band config (fewer bands — recall
    // 0.999 needs only 14 at j>=0.8), evidence the fixed ledger scheme
    // sits ON the auto curve rather than off it
    val half = Ann.lshPlanJaccard(500000L, 0.8)
    assert(half.bitsPerBand == 4 && half.nBands == 14, s"got $half")
  }

  test("Jaccard form: capped recall is reported, degenerate inputs " +
      "fail loudly") {
    val capped = Ann.lshPlanJaccard(1000000000L, threshold = 0.5,
      targetRecall = 0.9999, maxBands = 4)
    assert(capped.bitsPerBand == 2 && capped.nBands == 4)
    val achievable = 1.0 - math.pow(1.0 - math.pow(0.5, 2), 4.0)
    assert(math.abs(capped.expectedRecall - achievable) < 1e-12)
    assert(capped.expectedRecall < 0.9999)
    intercept[IllegalArgumentException](Ann.lshPlanJaccard(0L, 0.8))
    intercept[IllegalArgumentException](
      Ann.lshPlanJaccard(10L, 0.8, backgroundSim = 0.9)) // >= threshold
    intercept[IllegalArgumentException](
      Ann.lshPlanJaccard(10L, 1.0))
  }

  test("auto-sized text banding finds the same verified pairs as the " +
      "ledger's fixed 64x16 scheme on the fixture") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val (plan, autoPairs) =
      graft.queries.SimilarityQueries.minhashLshPairsAuto(spark, dir)
    val auto = autoPairs.select("a", "b").as[(Long, Long)].collect().toSet
    val fixed = SparkEntry.queries("q_minhash_lsh")(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // the verify stage cuts on exact Jaccard in both paths, so the two
    // schemes may only differ by banding recall (>=0.999 both) — on the
    // fixture they find the identical verified set
    assert(plan.expectedRecall >= 0.999)
    assert(auto == fixed,
      s"auto ${plan} diverged from fixed 64x16: " +
        s"only-auto=${auto -- fixed} only-fixed=${fixed -- auto}")
    assert(auto.nonEmpty, "vacuous fixture: no near-dup pairs at all")
  }

  test("q_minhash_lsh_auto (the LEDGER query) is the auto-planned text " +
      "path and misses no exact j>=0.8 pair on the fixture") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ledger = SparkEntry.queries("q_minhash_lsh_auto")(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // registration pin: the ledger entry IS minhashLshPairsAuto (same
    // verified set — the plan is a pure function of the corpus count)
    val (plan, direct) =
      graft.queries.SimilarityQueries.minhashLshPairsAuto(spark, dir)
    val directSet = direct.select("a", "b").as[(Long, Long)].collect().toSet
    assert(ledger == directSet,
      s"ledger query diverged from minhashLshPairsAuto at plan $plan")
    // recall floor vs the exact path (q_ngram_jaccard, the reference
    // LshRecallSpec pins the fixed scheme against): with plan recall
    // >=0.999 every exact pair at j>=0.8 must surface on the fixture
    val exact = SparkEntry.queries("q_ngram_jaccard")(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "vacuous fixture: no exact j>=0.8 pairs")
    assert(plan.expectedRecall >= 0.999)
    assert(exact.subsetOf(ledger),
      s"auto banding missed exact pairs: ${exact -- ledger}")
    // precision is exact by construction (the verify stage cuts on the
    // same quantized Jaccard the exact path computes)
    assert(ledger.subsetOf(exact),
      s"verified pair NOT in the exact set: ${ledger -- exact}")
  }

  test("q_embed_neardup_auto (the LEDGER query) emits exactly the " +
      "planted clone pairs that pass the production 0.95 cut") {
    import spark.implicits._
    import graft.queries.SimilarityQueries.{CloneIdOffset, CloneStride}
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_embed_neardup_auto")(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "ledger query went vacuous — no planted pair " +
      "passed the threshold; the clone construction no longer matches " +
      "the fixture")
    // the raw fixture corpus has max pairwise cosine ~0.51, so at the
    // 0.95 production threshold every emitted pair must be a planted
    // clone pair — a non-clone pair here means the fixture changed
    // character and the query's evidence story needs rethinking
    got.foreach { case (a, b) =>
      assert(b == a + CloneIdOffset && a % CloneStride == 0,
        s"non-planted pair ($a,$b) above 0.95 on the raw fixture")
    }
    // completeness against an independent in-JVM brute force over the
    // planted pairs: emitted ⊆ qualifying always (precision is exact by
    // the verify stage); the ≥-threshold planted pairs must be found up
    // to banding recall (≥0.999 by plan — tolerate at most one miss)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val qualifying = emb.keys.filter(_ % CloneStride == 0).filter { v =>
      val e = emb(v)
      val n2 = e.map(x => x.toDouble * x).sum
      val c = (n2 - 2 * e.head.toDouble * e.head) / n2
      math.floor(c * 10000 + 0.5) >= 9500
    }.map(v => (v, v + CloneIdOffset)).toSet
    assert(got.subsetOf(qualifying),
      s"emitted non-qualifying pairs: ${got -- qualifying}")
    assert(got.size >= qualifying.size - 1,
      s"banding recall fell far below plan: missed ${qualifying -- got}")
  }
}
