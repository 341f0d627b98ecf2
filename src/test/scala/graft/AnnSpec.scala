package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** ANN operators: brute-force correctness and IVF recall/pruning, plus
  * the bucketed co-located join shuffle-elimination proof.
  */
class AnnSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private def corpus = {
    val rng = new scala.util.Random(11)
    // 4 well-separated clusters of 50 vectors in 16 dims
    val centers = Seq.tabulate(4)(c =>
      Array.tabulate(16)(d => if (d % 4 == c) 10.0f else 0.0f))
    (0 until 200).map { i =>
      val c = i % 4
      val v = centers(c).zipWithIndex.map { case (x, d) =>
        x + rng.nextFloat() * 0.5f
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("brute force top-k: self is always rank 1") {
    val q = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = Ann.bruteForceTopK(corpus, q, 5)
    val rank1 = top.where(col("rn") === 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(rank1 == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("IVF with cluster centroids recalls brute-force top-k") {
    // one centroid per planted cluster -> nprobe=1 suffices
    val centroids = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cell_emb"))
    val q = corpus.where(col("vec_id") >= 196)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Ann.bruteForceTopK(corpus, q, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(corpus, q, centroids, 5, 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf == exact) // same-cluster neighbors live in the probed cell
  }

  test("IVF probes prune the corpus (candidate set < full corpus)") {
    val centroids = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cell_emb"))
    val cells = Ann.assignCells(corpus, centroids)
    val sizes = cells.groupBy("cell_id").count()
      .as[(Long, Long)].collect().toMap
    assert(sizes.size == 4 && sizes.values.sum == 200)
    assert(sizes.values.forall(_ == 50)) // clean cluster separation
  }

  test("assignCells guards the single-row centroid broadcast: k x dim " +
      "over the cap raises loudly, at/under the cap assigns normally") {
    val centroids = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cell_emb"))
    // 4 centroids x 16 dims = 64 elements: a cap of 63 must trip, 64 not
    sys.props("graft.maxCentroidElems") = "63"
    try {
      val e = intercept[Exception] {
        Ann.assignCells(corpus, centroids).collect()
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msg.contains("centroid set too large") &&
        msg.contains("SPARK_GRAFT_MAX_CENTROID_ELEMS"),
        s"guard message should name the cause and the dial, got: $msg")
      sys.props("graft.maxCentroidElems") = "64"
      assert(Ann.assignCells(corpus, centroids).count() == 200)
      // empty centroid frame keeps the old contract: no rows, no raise
      assert(Ann.assignCells(corpus,
        centroids.where(col("cell_id") < 0)).count() == 0)
    } finally sys.props.remove("graft.maxCentroidElems")
  }

  test("nearDupPairs releases its banded cache after the first action") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = Ann.nearDupPairs(corpus, dim = 16, threshold = 0.9)
    pairs.collect()
    // the QueryExecutionListener fires on the async listener bus
    val deadline = System.nanoTime() + 15e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > before &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"banded cache still pinned: ${spark.sparkContext.getPersistentRDDs}")
  }

  test("nearDupPairs hot-bucket guard fails loudly, naming the bucket " +
      "and the keeper-form escape hatch") {
    // 40 IDENTICAL vectors: every band bucket holds all 40, far over a
    // cap of 16 — the dense-cluster case whose all-pairs output is
    // quadratic by contract.
    val v = Seq.fill(16)(1.0f)
    val dense = (0L until 40L).map(i => (i, v)).toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException] {
      Ann.nearDupPairs(dense, dim = 16, threshold = 0.9, maxBucket = 16)
        .collect()
    }
    assert(e.getMessage.contains("maxBucket=16") &&
      e.getMessage.contains("nearDupKeepersAuto") &&
      e.getMessage.contains("semDedup") &&
      e.getMessage.contains("bitsPerBand"),
      s"guard message missing diagnosis/remedies: ${e.getMessage}")
    // the probe collect materialized the banded cache before the throw;
    // the guard must release it (unpersist is async — poll)
    val deadline = System.nanoTime() + 15e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > before &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"guard trip leaked the banded cache: ${spark.sparkContext.getPersistentRDDs}")
    // under the default cap the same corpus mines all 780 pairs
    val n = Ann.nearDupPairs(dense, dim = 16, threshold = 0.9).count()
    assert(n == 40L * 39 / 2)
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val a = (0L until 1000L).map(i => (i, i * 2)).toDF("k", "va")
    val b = (0L until 1000L).map(i => (i, i * 3)).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_b")
    // force a non-broadcast join so the assertion genuinely proves the
    // bucketing removed the shuffle (not that broadcast avoided it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  // Hand-built SemDeDup fixture: every assignment, pair cosine, and
  // drop decision is analytic. Cells = x-axis (0) and y-axis (1).
  private def semCorpus = Seq(
    (0L, Seq(10f, 0f, 0f, 0f)),   // on the cell-0 centroid: aff 1.0
    (1L, Seq(9.8f, 0.5f, 0f, 0f)), // near-dup of 0, slightly off-axis
    (2L, Seq(0f, 10f, 0f, 0f)),   // alone in cell 1
    (3L, Seq(6f, 6f, 0f, 0f))     // diagonal: cos 0.71 to both anchors
  ).toDF("vec_id", "embedding")

  private def semCentroids = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)),
    (1L, Seq(0f, 1f, 0f, 0f))
  ).toDF("cell_id", "cell_emb")

  test("semDedup drops the centroid-redundant member of a dup pair") {
    // cos(0,1)=0.9987 >= 0.99; vec 0 sits ON the centroid (aff 1.0 >
    // 0.9987) so the paper's diversity rule drops 0 and keeps 1. The
    // diagonal vec 3 is above no pair threshold -> kept, as is 2.
    val out = Ann.semDedup(semCorpus, semCentroids, thresholdQ = 9900L)
      .select("vec_id", "dropped").as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("semDedup emits every input row and respects a vacuous threshold") {
    val out = Ann.semDedup(semCorpus, semCentroids, thresholdQ = 10001L)
    assert(out.count() == 4)
    assert(out.where(col("dropped") =!= 0L).count() == 0)
  }

  // PQ fixture: codebooks = the 4 exact cluster centers' subvectors
  // (m=4 subspaces of dim 4 over the 16-dim corpus). Within each 4-dim
  // subvector a cluster-c member is hot only at position c, so its
  // argmin code is c in EVERY subspace — fully analytic.
  private def pqCenters = Seq.tabulate(4)(c =>
    (c.toLong, Seq.tabulate(16)(d => if (d % 4 == c) 10.0f else 0.0f)))
    .toDF("code", "emb")

  private def pqCb = pqCenters
    .select(col("code"), explode(sequence(lit(0), lit(3))).as("sub"),
      col("emb"))
    .select(col("sub"), col("code"),
      slice(col("emb"), col("sub") * lit(4) + 1, lit(4)).as("cvec"))

  test("pqEncode codes every member to its cluster center in all subspaces") {
    val codes = Ann.pqEncode(corpus, pqCb, 4)
    assert(codes.count() == 200 * 4)
    val wrong = codes.where(col("code") =!= col("vec_id") % 4).count()
    assert(wrong == 0, s"$wrong subspace codes off their cluster center")
  }

  test("pqTrain codebooks code each cluster consistently (trained " +
      "subspace centroids recover the planted structure)") {
    // init = 4 lowest vec_ids, one per planted cluster, so each
    // subspace's Lloyd run converges to the per-cluster subvector means
    val cb = Ann.pqTrain(corpus, m = 4, k = 4, iters = 3)
    val codes = Ann.pqEncode(corpus, cb, 4)
      .select("vec_id", "sub", "code").as[(Long, Long, Long)].collect()
    // members of one planted cluster share their code in EVERY subspace
    val byCluster = codes.groupBy { case (vid, sub, _) => (vid % 4, sub) }
    byCluster.foreach { case ((c, sub), rows) =>
      assert(rows.map(_._3).toSet.size == 1,
        s"cluster $c sub $sub split codes: ${rows.map(_._3).toSet}")
    }
    // distinct clusters get distinct codes (the codebook separates them)
    (0L until 4L).foreach { sub =>
      val perCluster = (0L until 4L).map(c =>
        codes.find(r => r._1 % 4 == c && r._2 == sub).get._3)
      assert(perCluster.toSet.size == 4,
        s"sub $sub merged clusters: $perCluster")
    }
  }

  test("pqTopK ADC retrieves the query's cluster, id-ordered on ties") {
    val codes = Ann.pqEncode(corpus, pqCb, 4)
    val q = corpus.where(col("vec_id") >= 196)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = Ann.pqTopK(codes, q, pqCb, 4, 4, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every cluster member shares its center's codes -> identical ADC
    // distance -> the top-5 cut is the 5 lowest ids of the q's cluster
    (196L to 199L).foreach { qid =>
      val c = qid % 4
      assert(top(qid) == Set(c, c + 4, c + 8, c + 12, c + 16),
        s"q $qid got ${top(qid)}")
    }
  }

  test("ivfPqTopK prunes to the probed cell and agrees with pqTopK " +
      "inside it") {
    // centroids = the exact cluster centers; nprobe=1 probes only the
    // query's own cluster, so IVF+PQ equals plain ADC restricted to it
    val centroids = pqCenters
      .select(col("code").as("cell_id"), col("emb").as("cell_emb"))
    val cells = Ann.assignCells(corpus, centroids)
    val codes = Ann.pqEncode(corpus, pqCb, 4)
    val q = corpus.where(col("vec_id") >= 196)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ivfpq = Ann.ivfPqTopK(cells, codes, q, centroids, pqCb,
      m = 4, k = 4, topK = 5, nprobe = 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (196L to 199L).foreach { qid =>
      val c = qid % 4
      assert(ivfpq(qid) == Set(c, c + 4, c + 8, c + 12, c + 16),
        s"q $qid got ${ivfpq(qid)}")
    }
  }

  test("rerankTopK: exact top-5 of a top-20 candidate list equals " +
      "exact top-5, and ADC candidates re-rank within themselves") {
    val q = corpus.where(col("vec_id") >= 196)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // identity: re-ranking the exact top-20 must reproduce exact top-5
    // (same score, same id tiebreak)
    val cand = Ann.bruteForceTopK(corpus, q, 20)
    val rer = Ann.rerankTopK(cand, corpus, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val exact = Ann.bruteForceTopK(corpus, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(rer == exact)
    // composition: re-ranked ADC candidates stay inside the candidate set
    val codes = Ann.pqEncode(corpus, pqCb, 4)
    val adc = Ann.pqTopK(codes, q, pqCb, 4, 4, 20)
    val adcIds = adc.select("q_id", "vec_id").as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Ann.rerankTopK(adc, corpus, q, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .foreach { case (qid, vid) =>
        assert(adcIds(qid).contains(vid), s"q $qid re-ranked $vid " +
          "from outside its candidate list")
      }
  }

  private def causeMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("pqEncode and pqTopK fail loudly on a non-divisible m") {
    // dim 16, m=3: without the guard the trailing dimension would be
    // silently dropped
    val e1 = intercept[Exception] {
      Ann.pqEncode(corpus, pqCb, 3).collect()
    }
    assert(causeMessages(e1).contains("not divisible by m=3"),
      s"got: ${causeMessages(e1)}")
    val q = corpus.limit(2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val codes = Ann.pqEncode(corpus, pqCb, 4)
    val e2 = intercept[Exception] {
      Ann.pqTopK(codes, q, pqCb, 3, 4, 5).collect()
    }
    assert(causeMessages(e2).contains("not divisible by m=3"),
      s"got: ${causeMessages(e2)}")
  }

  test("pqEncode fails loudly on a codebook whose subvector length " +
      "disagrees with D/m (instead of null distances via zip_with)") {
    val shortCb = pqCb.select(col("sub"), col("code"),
      slice(col("cvec"), 1, 3).as("cvec"))
    val e = intercept[Exception] {
      Ann.pqEncode(corpus, shortCb, 4).collect()
    }
    assert(causeMessages(e).contains("codebook subvector length"),
      s"got: ${causeMessages(e)}")
  }

  test("semDedup is partition-invariant") {
    val base = Ann.semDedup(semCorpus, semCentroids, 9900L)
      .as[(Long, Long, Long)].collect().toSet
    val repart = Ann.semDedup(semCorpus.repartition(5), semCentroids, 9900L)
      .as[(Long, Long, Long)].collect().toSet
    assert(base == repart)
  }

  // --- hot-cell bound ------------------------------------------------
  // Fixture: 5 tight clusters of 18 vectors on a radius-10 circle plus
  // 30 EXACT copies of vector 0 — 120 vectors, all forced into one
  // cell. Interleaved ids (cluster = id % 5) make the lowest-id seed
  // set span every cluster.
  private def hotAssigned = {
    val base = (0 until 90).map { i =>
      val g = i % 5; val j = i / 5
      val th = g * 2 * math.Pi / 5
      (i.toLong, Seq(10 * math.cos(th) + 0.05 * j,
        10 * math.sin(th) - 0.03 * j))
    }
    val copies = (90 until 120).map(i => (i.toLong, base.head._2))
    (base ++ copies).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        lit(0L).as("cell_id"), lit(0.5).as("aff"))
  }

  test("refineCells is a pure pass-through below the cap") {
    val assigned = hotAssigned
    val (reps, forced) = Ann.refineCells(assigned, 9900L,
      Ann.DefaultMaxCellSize)
    assert(forced.isEmpty)
    val keys = reps.select("pair_key").distinct().as[String].collect()
    assert(keys.toSeq == Seq("0")) // cell_id verbatim — plan unchanged
    assert(reps.count() == 120)
  }

  test("hot cell: duplicate collapse + keyed sub-k-means bound every " +
      "pair-mining group under the cap") {
    val (reps, forced) = Ann.refineCells(hotAssigned, 9900L, 16L)
    val pops = reps.groupBy("pair_key").count().as[(String, Long)]
      .collect()
    assert(pops.forall(_._2 <= 16L),
      s"pair group above cap: ${pops.filter(_._2 > 16L).mkString(", ")}")
    // the 30 exact copies of vector 0 collapse onto rep 0 directly
    val forcedIds = forced.get.as[Long].collect().toSet
    assert(forcedIds == (90L until 120L).toSet)
    assert(reps.count() + forcedIds.size == 120)
    // every vector surfaces exactly once in the full operator output,
    // the forced drops are dropped, and the result is reproducible
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cell_id", "cell_emb")
    val emb = hotAssigned.select("vec_id", "embedding")
    val out1 = Ann.semDedup(emb, cents, 9900L, maxCellSize = 16L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out1.size == 120 && out1.map(_._1).size == 120)
    assert((90L until 120L).forall(id => out1.contains((id, 0L, 1L))))
    val out2 = Ann.semDedup(emb, cents, 9900L, maxCellSize = 16L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out1 == out2)
  }

  test("semDedup after a hot-cell split serves a second action on a " +
      "derived frame once the first action's release has run") {
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cell_id", "cell_emb")
    val emb = hotAssigned.select("vec_id", "embedding")
    val r = Ann.semDedup(emb, cents, 9900L, maxCellSize = 16L)
    val first = r.as[(Long, Long, Long)].collect().toSet
    assert(first.size == 120)
    // the release after the first action rides the listener bus: wait
    // until it has dropped the assignment pin, then let it settle
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.nanoTime() + 15e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size >= pinned &&
      System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(500)
    // the split rounds' checkpoints are still read by `r`: a derived
    // frame must plan and run against them
    val kept = r.where(col("dropped") === 0).as[(Long, Long, Long)]
      .collect().toSet
    assert(kept == first.filter(_._3 == 0L))
  }

  test("hot cell of distinct-but-r4-indistinguishable vectors fails " +
      "loudly instead of going quadratic") {
    // distinct doubles, identical after distance quantization: no
    // duplicate collapse applies and no split can separate them
    val emb = (0 until 40).map(i =>
      (i.toLong, Seq(1.0 + i * 1e-9, 2.0))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cell_id", "cell_emb")
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalStateException] {
      Ann.semDedup(emb, cents, 9900L, maxCellSize = 16L)
    }
    assert(e.getMessage.contains("maxCellSize"))
    // refineCells' probes materialized the assignment cache before the
    // throw; the failure path must release it (async — poll)
    val deadline = System.nanoTime() + 15e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > before &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"guard trip leaked the assignment cache: ${spark.sparkContext.getPersistentRDDs}")
  }
}
