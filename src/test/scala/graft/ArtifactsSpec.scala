package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifacts, EventEnvelope}
import graft.operators.{Bpe, Decontamination, Drift, Importance}
import graft.streaming.TypedOps

/** The offline-artifact store: versioned parquet round trips for every
  * fitted artifact, immutable versions, latest-wins default load — and
  * the contract the store exists for: an ingest plane in a fresh
  * session is constructible entirely from LOADED artifacts and behaves
  * exactly like one built from the in-memory originals.
  */
class ArtifactsSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val root = tempPath("artifacts")

  private val SfDir = "/root/testdata/sf0.001"

  test("importance LM round-trips and versions are immutable with " +
      "latest-wins default load") {
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val lm = Importance.fit(docs, col("text"), col("source") === "src0")
    Artifacts.saveImportanceLm(spark, root, 1, lm)
    assert(Artifacts.loadImportanceLm(spark, root, Some(1)) == lm)

    // immutable: re-writing v1 must fail, not replace
    intercept[Exception](Artifacts.saveImportanceLm(spark, root, 1, lm))

    // latest wins: a v2 with a different default becomes the default load
    val lm2 = lm.copy(default = lm.default + 7)
    Artifacts.saveImportanceLm(spark, root, 2, lm2)
    assert(Artifacts.versions(spark, root, Artifacts.ImportanceLmName)
      == Seq(1, 2))
    assert(Artifacts.loadImportanceLm(spark, root) == lm2)
    assert(Artifacts.loadImportanceLm(spark, root, Some(1)) == lm)
  }

  test("BPE merges, eval buckets, and drift baseline round-trip " +
      "exactly (order and values)") {
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")

    val merges = Bpe.train(Bpe.wordCounts(docs, col("text")), 12)
    Artifacts.saveBpeMerges(spark, root, 1, merges)
    assert(Artifacts.loadBpeMerges(spark, root) == merges)

    val buckets = Decontamination.fitBuckets(
      docs.where(col("source") === "src19"), col("text"))
    Artifacts.saveEvalBuckets(spark, root, 1, buckets)
    assert(Artifacts.loadEvalBuckets(spark, root) == buckets)

    val baseline = Drift.fitBaseline(docs, col("text"))
    Artifacts.saveDriftBaseline(spark, root, 1, baseline)
    assert(Artifacts.loadDriftBaseline(spark, root) == baseline)

    assert(intercept[NoSuchElementException](
      Artifacts.load(spark, root, "no_such_artifact"))
      .getMessage.contains("no_such_artifact"))
  }

  test("k-means centroids persist and drive IVF search identically to " +
      "the in-memory frame (train-once / query-many)") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val trained = graft.operators.Ann.kmeansTrain(emb, k = 8, iters = 2)
    Artifacts.saveCentroids(spark, root, 1, trained)

    val loaded = Artifacts.loadIvfCentroids(spark, root)
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val fromMemory = graft.operators.Ann.ivfTopK(emb, queries,
      trained.select(col("cluster_id").as("cell_id"),
        col("cvec").as("cell_emb")), 5, 2)
      .collect().map(_.toSeq).sortBy(_.toString)
    val fromArtifact = graft.operators.Ann
      .ivfTopK(emb, queries, loaded, 5, 2)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fromArtifact.nonEmpty &&
      fromArtifact.toSeq == fromMemory.toSeq)

    // shape guard: a frame that isn't (cluster_id, cvec) is refused
    intercept[IllegalArgumentException](
      Artifacts.saveCentroids(spark, root, 2,
        trained.withColumnRenamed("cvec", "v")))
  }

  test("IVF cell assignment persists and serves ivfTopKFromCells " +
      "identically to the in-memory assignment (assign-once)") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val centroids = emb.where(col("vec_id") % 37 === 0 &&
        col("vec_id") < 37L * 8)
      .select((col("vec_id") / 37).cast("long").as("cell_id"),
        col("embedding").as("cell_emb"))
    val assigned = graft.operators.Ann.assignCells(emb, centroids)
    Artifacts.saveIvfCells(spark, root, 1, assigned)

    val loaded = Artifacts.loadIvfCells(spark, root)
    assert(loaded.select("vec_id", "cell_id").collect().map(_.toSeq).toSet
      == assigned.select("vec_id", "cell_id").collect().map(_.toSeq).toSet)
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def hits(cells: org.apache.spark.sql.DataFrame) =
      graft.operators.Ann.ivfTopKFromCells(cells, queries, centroids, 5, 2)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val fromArtifact = hits(loaded)
    assert(fromArtifact.nonEmpty && fromArtifact == hits(assigned))

    // shape guard: the embedding column is load-bearing (the in-cell
    // exact scoring needs it) — a codes-only frame is refused
    intercept[IllegalArgumentException](
      Artifacts.saveIvfCells(spark, root, 2,
        assigned.drop("embedding")))
  }

  test("classifier weights round-trip and the streaming model gate " +
      "built from the LOADED artifact keeps/drops as the batch scorer") {
    import spark.implicits._
    import graft.operators.QualityModel
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val label = graft.functions.TextFunctions.qualityScore(col("text")) >= 0.6
    val w = QualityModel.fit(docs, col("text"), label, iters = 10)
    Artifacts.saveClassifier(spark, root, 1, w)
    val loaded = Artifacts.loadClassifier(spark, root)
    assert(loaded == w)

    // pick a passing and a failing doc BY THE BATCH SCORER at the
    // median-ish cut, then assert the streaming gate from the loaded
    // weights reproduces both decisions
    val scored = docs.select(col("text"),
      QualityModel.score(col("text"), loaded).as("s"))
    val cut = scored.agg(avg(col("s"))).head().getDouble(0)
    val passText = scored.where(col("s") >= cut + 1e-4)
      .select("text").head().getString(0)
    val dropText = scored.where(col("s") < cut - 1e-4)
      .select("text").head().getString(0)
    val base = 1700000000000L
    val ps = new graft.streaming.PubSub(spark)
    val t = ps.topic[String]("model-gate")
    val gated = TypedOps.qualityModelGate(loaded, cut)(t.stream)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = gated.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[String]], _: Long) =>
          out.synchronized { out ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(new Timestamp(base), passText),
      EventEnvelope.at(new Timestamp(base + 100L), dropText)))
    q.processAllAvailable()
    q.stop()
    val seen = out.synchronized(out.toSet)
    assert(seen.contains(passText), "above-cut doc must pass the gate")
    assert(!seen.contains(dropText), "below-cut doc must be dropped")
    ps.close()
  }

  test("hashed-bigram classifier weights round-trip (bias at pos -1) " +
      "and a stray non-numeric version directory is ignored") {
    import graft.operators.QualityModel
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val label = graft.functions.TextFunctions.qualityScore(col("text")) >= 0.6
    val w = QualityModel.fitNgram(docs, col("text"), label, iters = 3)
    Artifacts.saveNgramClassifier(spark, root, 1, w)
    assert(Artifacts.loadNgramClassifier(spark, root) == w)
    // a leftover non-numeric directory (tool temp, manual copy) must not
    // break versions()/load() for the artifact
    val stray = new java.io.File(
      s"$root/${Artifacts.NgramClassifierName}/v=tmp")
    assert(stray.mkdirs())
    assert(Artifacts.versions(spark, root, Artifacts.NgramClassifierName)
      == Seq(1))
    assert(Artifacts.loadNgramClassifier(spark, root) == w)
  }

  test("ingest gates constructed from LOADED artifacts behave exactly " +
      "like gates built from the in-memory originals") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    val lm = Importance.fit(docs, col("text"), col("source") === "src0")
    val buckets = Decontamination.fitBuckets(
      docs.where(col("source") === "src19"), col("text"))
    Artifacts.saveImportanceLm(spark, root, 9, lm)
    Artifacts.saveEvalBuckets(spark, root, 9, buckets)
    val loadedLm = Artifacts.loadImportanceLm(spark, root, Some(9))
    val loadedBuckets = Artifacts.loadEvalBuckets(spark, root, Some(9))
    assert(loadedLm == lm && loadedBuckets == buckets)

    // drive the full selective ingest from the loaded artifacts: a
    // contaminated document (verbatim eval text) must be dropped, a
    // clean fixture document must pass. The clean doc is selected BY
    // THE BATCH COLUMNS (fixture docs share vocabulary, so an arbitrary
    // src0 doc may genuinely share >= 2 eval buckets) — the IngestSpec
    // self-check discipline.
    val evalText = docs.where(col("source") === "src19")
      .select("text").head().getString(0)
    val cleanText = docs
      .where(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.3)
      .where(Decontamination.hitCount(col("text"), loadedBuckets) < 2)
      .select("text").head().getString(0)
    val base = 1700000000000L
    val ps = new graft.streaming.PubSub(spark)
    val t = ps.topic[String]("artifact-gates")
    val ing = TypedOps.corpusIngestSelective("5 seconds", loadedLm,
      loadedBuckets, minQuality = 0.1, minLogw = -1e6, minShared = 2)(
      t.stream)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = ing.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[String]], _: Long) =>
          out.synchronized { out ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(new Timestamp(base), evalText),
      EventEnvelope.at(new Timestamp(base + 100L), cleanText)))
    q.processAllAvailable()
    t.publish(Seq(
      EventEnvelope.at(new Timestamp(base + 3600L * 1000L),
        "late watermark flush document with plenty of ordinary words")))
    q.processAllAvailable()
    q.stop()
    val seen = out.synchronized(out.toSet)
    assert(seen.contains(cleanText), "clean doc must pass loaded gates")
    assert(!seen.contains(evalText),
      "verbatim eval text must be dropped by the loaded bucket gate")
    ps.close()
  }

  test("PQ codebooks persist and encode identically from the loaded " +
      "frame (train-once / encode-many)") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val trained = graft.operators.Ann.pqTrain(emb, m = 8, k = 8, iters = 2)
    Artifacts.savePqCodebooks(spark, root, 1, trained)

    val loaded = Artifacts.loadPqCodebooks(spark, root)
    val fromMemory = graft.operators.Ann.pqEncode(emb, trained, 8)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val fromArtifact = graft.operators.Ann.pqEncode(emb, loaded, 8)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(fromArtifact.nonEmpty && fromArtifact == fromMemory)

    intercept[IllegalArgumentException](
      Artifacts.savePqCodebooks(spark, root, 2,
        trained.withColumnRenamed("cvec", "v")))
  }
}
