package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModel
import graft.operators.QualityModel.Weights

/** Pins the trainable quality classifier on top of its oracled anchors
  * (q_logreg_step, q_quality_classifier): gradient-descent behavior,
  * separation on the weak label, and exact partition invariance of the
  * learned weights (the DECIMAL gradient-sum contract).
  */
class QualityModelSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  private val label = col("source") === "src0"

  test("training descends the logistic loss and beats the zero model") {
    val l0 = QualityModel.loss(docs, col("text"), label, Weights.zero)
    val w5 = QualityModel.fit(docs, col("text"), label, iters = 5)
    val l5 = QualityModel.loss(docs, col("text"), label, w5)
    val w20 = QualityModel.fit(docs, col("text"), label, iters = 20,
      init = w5)
    val l20 = QualityModel.loss(docs, col("text"), label, w20)
    assert(l5 < l0, s"5 GD steps must reduce loss: $l5 >= $l0")
    assert(l20 <= l5, s"more steps must not regress: $l20 > $l5")
  }

  test("the learned model separates a LEARNABLE label (distilling the " +
      "quality heuristic into a smooth score)") {
    // the source label is unlearnable by construction (fixture sources
    // share one generator — the descent test above shows the loss still
    // moves, to the base rate); a label the features carry is the
    // heuristic gate itself, the distillation use the operator exists
    // for
    val ql = graft.functions.TextFunctions.qualityScore(col("text")) >= 0.6
    val w = QualityModel.fit(docs, col("text"), ql, iters = 25)
    val means = docs
      .groupBy(ql.as("y"))
      .agg(avg(QualityModel.score(col("text"), w)).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false) + 0.05,
      s"positive-class mean score ${means(true)} must clearly exceed " +
        s"negative ${means(false)}")
  }

  test("learned weights are EXACTLY partition-invariant (decimal " +
      "gradient sums)") {
    val a = QualityModel.fit(docs, col("text"), label, iters = 8)
    val b = QualityModel.fit(docs.repartition(13), col("text"), label,
      iters = 8)
    assert(a == b, s"weights diverged across partitionings: $a vs $b")
  }

  test("gradient and loss fail loudly on an empty corpus, and loss " +
      "stays finite under extreme weights (log clipping)") {
    val empty = docs.where(lit(false))
    val eg = intercept[IllegalArgumentException](
      QualityModel.gradient(empty, col("text"), label, Weights.zero))
    assert(eg.getMessage.contains("empty corpus"))
    val el = intercept[IllegalArgumentException](
      QualityModel.loss(empty, col("text"), label, Weights.zero))
    assert(el.getMessage.contains("empty corpus"))
    // weights large enough to saturate the sigmoid to exactly 0/1:
    // unclamped log(0) would NULL those rows out of the mean
    val extreme = Weights(Seq(-5000.0, 0.0, 0.0, 0.0, 0.0))
    // expected ~= positiveShare * -ln(eps) ~= 0.05 * 34.5 ~= 1.7;
    // without the clamp the saturated rows NULL out and the mean ~= 0
    val l = QualityModel.loss(docs, col("text"), label, extreme)
    assert(!l.isNaN && !l.isInfinite && l > 1.0,
      s"clipped loss must be finite and penalizing under saturation, got $l")
  }

  test("null text/label rows drop from BOTH numerator and denominator " +
      "of gradient and loss (5-dim and hashed-bigram)") {
    import spark.implicits._
    val extra = Seq((null: String, "src0"), ("x y z", null: String),
      (null: String, null: String))
      .toDF("text", "source")
    val padded = docs.select(col("text"), col("source"))
      .unionByName(extra)
    val clean = docs.select(col("text"), col("source"))
    val lbl = col("source") === "src0"
    assert(QualityModel.gradient(padded, col("text"), lbl, Weights.zero) ==
      QualityModel.gradient(clean, col("text"), lbl, Weights.zero))
    assert(QualityModel.loss(padded, col("text"), lbl, Weights.zero) ==
      QualityModel.loss(clean, col("text"), lbl, Weights.zero))
    val nz = QualityModel.NgramWeights.zero
    val gp = QualityModel.ngramGradient(padded, col("text"), lbl, nz)
    val gc = QualityModel.ngramGradient(clean, col("text"), lbl, nz)
    assert(gp == gc)
  }

  // --- hashed-bigram model --------------------------------------------

  private val distill =
    graft.functions.TextFunctions.qualityScore(col("text")) >= 0.6

  test("hashed-bigram training descends the logistic loss") {
    val l0 = QualityModel.ngramLoss(docs, col("text"), distill,
      QualityModel.NgramWeights.zero)
    val w = QualityModel.fitNgram(docs, col("text"), distill, iters = 5)
    val l5 = QualityModel.ngramLoss(docs, col("text"), distill, w)
    assert(l5 < l0, s"5 GD steps must reduce loss: $l5 >= $l0")
  }

  test("hashed-bigram separation on the distillation label strictly " +
      "beats the 5-dim profile model at equal training budget") {
    def separation(scoreCol: org.apache.spark.sql.Column): Double = {
      val m = docs.groupBy(distill.as("y"))
        .agg(avg(scoreCol).as("m"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      m(true) - m(false)
    }
    val iters = 25
    val w5 = QualityModel.fit(docs, col("text"), distill, iters = iters)
    val wn = QualityModel.fitNgram(docs, col("text"), distill, iters = iters)
    val s5 = separation(QualityModel.score(col("text"), w5))
    val sn = separation(QualityModel.ngramScore(col("text"), wn))
    assert(sn > 0.05, s"ngram model must separate the classes, got $sn")
    assert(sn > s5,
      s"content features must beat the 5 profile ratios: ngram $sn vs 5-dim $s5")
  }

  test("native ngram kernels are BIT-IDENTICAL to the legacy Column " +
      "formulation under random weights") {
    // The round-12 native rewrite (NgramScore / NgramBucketIds /
    // NgramScoreFromBuckets) claims exact numeric parity with the
    // lambda-composed form it replaced (same fold order, same md5-byte
    // bucket, same sigmoid op order). The DuckDB oracle only exercises
    // zero weights; this differential pin exercises RANDOM weights and
    // random multi-token docs against the legacy formulation rebuilt
    // inline, requiring == on raw doubles (no tolerance).
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{aggregate => agg_}
    def legacyBuckets(text: Column): Column = {
      val toks = graft.functions.TextFunctions.tokens(text)
      val n = greatest(size(toks) - 1, lit(0))
      val pairs = zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
        (a, b) => concat(a, lit(" "), b))
      transform(pairs, bg =>
        conv(substring(md5(bg.cast("binary")), 1, 2), 16, 10).cast("long"))
    }
    def legacyScore(text: Column, w: QualityModel.NgramWeights): Column = {
      val warr = array(w.w.map(lit): _*)
      val z = lit(w.bias) + agg_(legacyBuckets(text), lit(0.0),
        (acc, b) => acc + element_at(warr, (b + 1).cast("int")))
      lit(1.0) / (lit(1.0) + exp(-z))
    }
    val rng = new scala.util.Random(4242)
    val w = QualityModel.NgramWeights(rng.nextGaussian(),
      IndexedSeq.fill(QualityModel.NgramBuckets)(rng.nextGaussian()))
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x1", "émile",
      "多言", "z")
    val randomDocs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(40))(vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("id", "text")
    val rows = randomDocs.select(
      QualityModel.ngramScore(col("text"), w).as("native"),
      legacyScore(col("text"), w).as("legacy"),
      QualityModel.bigramBuckets(col("text")).as("nb"),
      legacyBuckets(col("text")).as("lb"),
      graft.expressions.NgramScoreFromBuckets(
        QualityModel.bigramBuckets(col("text")), w.bias, w.w.toArray)
        .as("fused"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](2) == r.getSeq[Long](3),
        "bucket ids diverged from the legacy md5 recipe")
      assert(r.getDouble(0) == r.getDouble(1),
        s"native != legacy score (buckets ${r.getSeq[Long](2)}): " +
          s"${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(r.getDouble(4) == r.getDouble(1),
        s"fused != legacy score: ${r.getDouble(4)} vs ${r.getDouble(1)}")
    }
  }

  test("hashed-bigram learned weights are EXACTLY partition-invariant") {
    val a = QualityModel.fitNgram(docs, col("text"), distill, iters = 4)
    val b = QualityModel.fitNgram(docs.repartition(13), col("text"),
      distill, iters = 4)
    assert(a == b, "ngram weights diverged across partitionings")
  }

  test("hashed-bigram gradient at zero weights equals the driver-side " +
      "computation, bias bucket included") {
    val rows = docs.select(col("text"),
        QualityModel.bigramBuckets(col("text")).as("bs"), label.as("y"))
      .collect()
    val n = rows.length
    val sums = collection.mutable.Map.empty[Long, BigDecimal]
      .withDefaultValue(BigDecimal(0))
    rows.foreach { r =>
      val e = BigDecimal(0.5 - (if (r.getBoolean(2)) 1.0 else 0.0))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      sums(-1L) += e
      r.getSeq[Long](1).foreach(b => sums(b) += e)
    }
    val got = QualityModel.ngramGradient(docs, col("text"), label,
      QualityModel.NgramWeights.zero)
    assert(math.abs(got.bias - (sums(-1L).toDouble / n)) < 1e-9)
    (0 until QualityModel.NgramBuckets).foreach { b =>
      val want = sums(b.toLong).toDouble / n
      assert(math.abs(got.w(b) - want) < 1e-9, s"bucket $b: ${got.w(b)} vs $want")
    }
  }

  test("empty and whitespace-only documents train and score without " +
      "error (no bigrams, not a crash)") {
    import spark.implicits._
    val blanky = docs.limit(20).select(col("text"), label.as("y"))
      .union(Seq(("", true), ("   ", false), ("solo", true))
        .toDF("text", "y"))
    val buckets = blanky
      .select(QualityModel.bigramBuckets(col("text")).as("bs"), col("text"))
      .collect()
    buckets.foreach { r =>
      if (r.getString(1).trim.split("\\s+").count(_.nonEmpty) < 2)
        assert(r.getSeq[Long](0).isEmpty,
          s"'${r.getString(1)}' must yield no bigrams")
    }
    val g = QualityModel.ngramGradient(blanky, col("text"), col("y"),
      QualityModel.NgramWeights.zero)
    assert(g.bias != 0.0, "bias gradient must reflect the corpus")
    val scores = blanky.select(QualityModel.ngramScore(col("text"),
      QualityModel.NgramWeights.zero)).collect()
    assert(scores.forall(r => !r.isNullAt(0)), "every doc must score")
  }

  test("ngram gradient fails loudly on an empty corpus") {
    val e = intercept[IllegalArgumentException](
      QualityModel.ngramGradient(docs.where(lit(false)), col("text"),
        label, QualityModel.NgramWeights.zero))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("gradient at zero weights equals the driver-side computation") {
    val rows = docs.select(col("text"),
        QualityModel.features(col("text")).as("f"), label.as("y"))
      .collect()
    val n = rows.length
    val want = (0 until QualityModel.Dim).map { j =>
      rows.map { r =>
        val f = r.getSeq[Double](1)
        val y = if (r.getBoolean(2)) 1.0 else 0.0
        BigDecimal((0.5 - y) * f(j)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble / n
    }
    val got = QualityModel.gradient(docs, col("text"), label, Weights.zero)
    got.zip(want).zipWithIndex.foreach { case ((g, w), j) =>
      assert(math.abs(g - w) < 1e-9, s"grad[$j]: $g vs $w")
    }
  }
}
