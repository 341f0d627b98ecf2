package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann
import graft.queries.SimilarityQueries

/** q_lsh_plan's cross-engine safety net. The query hash-compares
  * Ann.lshPlan's integer decisions (bits, bands, quantized recall)
  * against DuckDB recomputing the same math with ITS libm — which is
  * only sound if every ceil / threshold-compare / quantization in the
  * plan sits far from its decision boundary, because acos/pow/ln are
  * not guaranteed bit-identical across libms (worst-case cascade
  * ~1e-12 absolute). This spec is the tripwire: it measures the margin
  * of every decision quantity over the oracle's full grid crossed with
  * the REAL fixture corpus counts at every committed scale point
  * (mult 1/3/10/30/100), and fails loudly if any margin ever drops
  * within 1e-7 of a boundary — e.g. if a future fixture's count lands
  * n/targetBucket on an exact power of two.
  */
class LshPlanOracleSpec extends AnyFunSuite with LocalSparkSuite {

  private val Target = 0.999
  private val MinMargin = 1e-7

  /** Distances of each decision quantity from its nearest boundary,
    * mirroring both the Scala plan math and the oracle SQL's ln(1-x)
    * variant (their mutual difference, ~1e-13 relative, is itself far
    * under MinMargin). Exact-by-IEEE cases (n <= targetBucket ->
    * ln(1.0) = 0 on both engines) are skipped, not measured.
    */
  private def margins(n: Long, tb: Long, t: Double): Seq[(String, Double)] = {
    val p = 1.0 - math.acos(t) / math.Pi
    val out = Seq.newBuilder[(String, Double)]
    if (n > tb) {
      val v = math.log(n.toDouble / tb) / math.log(2.0)
      out += (s"init(n=$n,tb=$tb)" -> math.abs(v - math.rint(v)))
    }
    for (bits <- 6 to 24) {
      val pband = math.pow(p, bits)
      val ratio = math.log1p(-Target) / math.log1p(-pband)
      out += (s"bands(t=$t,bits=$bits)" -> math.abs(ratio - math.rint(ratio)))
      val b = math.min(64, math.max(1, math.ceil(ratio).toInt))
      val recall = 1.0 - math.pow(1.0 - pband, b)
      out += (s"cmp(t=$t,bits=$bits)" -> math.abs(recall - Target))
      val x = recall * 10000 + 0.5
      out += (s"quant(t=$t,bits=$bits)" -> math.abs(x - math.rint(x)))
    }
    out.result()
  }

  test("every plan decision sits >= 1e-7 from its boundary at all " +
      "committed corpus sizes") {
    val baseCounts = (for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      tbl <- Seq("documents", "embeddings")
    } yield spark.read.parquet(s"/root/testdata/$sf/$tbl.parquet").count()) ++
      // q_embed_neardup_auto plans from the clone-AUGMENTED embedding
      // count (base + every CloneStride-th id), and ScaleFixture
      // replication multiplies both parts (replica offsets are ≡ 0 mod
      // CloneStride, so every replica contributes the same clone count)
      // — cover those n too
      (for {
        sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      } yield {
        val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        e.count() + e.where(org.apache.spark.sql.functions.col("vec_id") %
          SimilarityQueries.CloneStride === 0).count()
      })
    // mult list comes from the scale harness's own constant — a new
    // committed scale point extends this tripwire automatically
    val ns = (for {
      c <- baseCounts
      mult <- ScaleFixture.CommittedMults
    } yield c * mult).distinct :+ 1L
    for {
      n <- ns
      tb <- SimilarityQueries.LshPlanBuckets
      (_, t) <- SimilarityQueries.LshPlanThresholds
      (what, m) <- margins(n, tb, t)
    } assert(m >= MinMargin,
      s"$what margin $m < $MinMargin at n=$n — the q_lsh_plan oracle " +
        "is no longer libm-drift-safe; move the grid or the fixture")
  }

  test("plans match an independently computed reference at spot points") {
    // values computed outside the JVM (C libm) — doubles as a cross-libm
    // smoke check of the exact integers the oracle will emit
    val spot = Map(
      (200L, 0.90) -> (6, 14, 9991L), (200L, 0.95) -> (6, 10, 9994L),
      (2000L, 0.98) -> (6, 7, 9996L), (200000L, 0.95) -> (10, 17, 9992L),
      (200000L, 0.90) -> (10, 29, 9990L), (200000L, 0.98) -> (10, 10, 9993L))
    for (((n, t), (bits, bands, rq)) <- spot) {
      val pl = Ann.lshPlan(n, t)
      assert((pl.bitsPerBand, pl.nBands,
        math.floor(pl.expectedRecall * 10000 + 0.5).toLong) ==
        ((bits, bands, rq)), s"plan at n=$n t=$t")
    }
  }

  test("q_lsh_plan emits the full grid with the contracted schema") {
    val df = SparkEntry.queries("q_lsh_plan")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length ==
      2 * SimilarityQueries.LshPlanBuckets.size *
        SimilarityQueries.LshPlanThresholds.size)
    assert(df.columns.sorted.toSeq == Seq("bands", "bits", "corpus", "n",
      "recall_q", "target_bucket", "threshold_q"))
    // capped-recall region really is exercised: the 0.5-threshold rows
    // cannot reach 0.999 recall within 64 bands at minBits
    val capped = rows.filter(r => r.getAs[Int]("threshold_q") == 50)
    assert(capped.nonEmpty &&
      capped.forall(_.getAs[Long]("recall_q") < 9990L))
    // and the uncapped region meets the target
    assert(rows.filter(_.getAs[Int]("threshold_q") == 95)
      .forall(_.getAs[Long]("recall_q") >= 9990L))
  }

  /** Jaccard-form margins, mirroring [[margins]] for
    * q_lsh_plan_jaccard: p-per-hash is the threshold itself and the
    * init log base is 1/backgroundSim (1.0/0.1 rounds to exactly 10.0
    * in IEEE double, so both engines feed ln the same value). The
    * exact-by-IEEE n <= tb case (ln(1.0) = 0) is skipped as before.
    */
  private def marginsJaccard(n: Long, tb: Long, t: Double)
      : Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    if (n > tb) {
      val v = math.log(n.toDouble / tb) / math.log(1.0 / 0.1)
      out += (s"initJ(n=$n,tb=$tb)" -> math.abs(v - math.rint(v)))
    }
    for (k <- 2 to 16) {
      val pband = math.pow(t, k)
      val ratio = math.log1p(-Target) / math.log1p(-pband)
      out += (s"bandsJ(t=$t,k=$k)" -> math.abs(ratio - math.rint(ratio)))
      val b = math.min(64, math.max(1, math.ceil(ratio).toInt))
      val recall = 1.0 - math.pow(1.0 - pband, b)
      out += (s"cmpJ(t=$t,k=$k)" -> math.abs(recall - Target))
      val x = recall * 10000 + 0.5
      out += (s"quantJ(t=$t,k=$k)" -> math.abs(x - math.rint(x)))
    }
    out.result()
  }

  test("Jaccard-form plan decisions sit >= 1e-7 from their boundaries " +
      "at all committed corpus sizes") {
    val baseCounts = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      tbl <- Seq("documents", "embeddings")
    } yield spark.read.parquet(s"/root/testdata/$sf/$tbl.parquet").count()
    val ns = (for {
      c <- baseCounts
      mult <- ScaleFixture.CommittedMults
    } yield c * mult).distinct :+ 1L
    for {
      n <- ns
      tb <- SimilarityQueries.LshPlanBuckets
      (_, t) <- SimilarityQueries.LshPlanThresholds
      (what, m) <- marginsJaccard(n, tb, t)
    } assert(m >= MinMargin,
      s"$what margin $m < $MinMargin at n=$n — q_lsh_plan_jaccard is " +
        "no longer libm-drift-safe; move the grid or the fixture")
  }

  test("q_lsh_plan_jaccard emits the full grid and matches " +
      "independently computed spot plans") {
    val df = SparkEntry.queries("q_lsh_plan_jaccard")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length ==
      2 * SimilarityQueries.LshPlanBuckets.size *
        SimilarityQueries.LshPlanThresholds.size)
    assert(df.columns.sorted.toSeq == Seq("bands", "corpus", "n",
      "recall_q", "rows_per_band", "target_bucket", "threshold_q"))
    // spot pins computed outside the JVM (C libm)
    val spot = Map(
      (500000L, 0.80) -> (4, 14, 9994L),
      (1000000000L, 0.80) -> (7, 30, 9991L),
      (200L, 0.95) -> (2, 3, 9991L))
    for (((n, t), (k, b, rq)) <- spot) {
      val pl = graft.operators.Ann.lshPlanJaccard(n, t)
      assert((pl.bitsPerBand, pl.nBands,
        math.floor(pl.expectedRecall * 10000 + 0.5).toLong) == ((k, b, rq)),
        s"jaccard plan at n=$n t=$t: $pl")
    }
  }

  test("tools/check_correctness.py's surgery needle occurs exactly " +
      "once in q_minhash_lsh_auto's oracle") {
    // the minhash recipe rewrites the ledger oracle at NEEDLE (restricting
    // the docs CTE to a doc_id stride); a drifted oracle text would
    // otherwise surface only in a big-mult run
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/check_correctness.py")), "UTF-8")
    val needle = "(?m)^NEEDLE = \"(.*)\"$".r.findFirstMatchIn(script)
      .map(_.group(1))
      .getOrElse(fail("no NEEDLE assignment in check_correctness.py"))
    val oracle = SparkEntry.oracleSql("q_minhash_lsh_auto")
    assert(oracle.sliding(needle.length).count(_ == needle) == 1,
      s"'$needle' must occur exactly once in:\n$oracle")
  }
}
