package graft.core

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Drift, Importance}

/** Versioned parquet persistence for the engine's OFFLINE ARTIFACTS —
  * the fitted state every scaladoc calls "the reusable offline
  * artifact": BPE merge tables, the DSIR importance LM, decontamination
  * eval-bucket sets, drift baselines, k-means centroid frames. One
  * generic frame-level save/load plus typed codecs, so an ingest plane
  * in a fresh session is constructible entirely from loaded artifacts
  * (ArtifactsSpec pins the round trips and gate construction).
  *
  * Layout: `<root>/<name>/v=<version>/` parquet directories. Versions
  * are immutable (save refuses to overwrite an existing version) and
  * monotonically discoverable: `load` with no version takes the
  * highest. Paths go through the Hadoop FileSystem API, so `root` may
  * be any Spark-reachable filesystem (local for tests, object store at
  * production scale), and the artifact store is just a table directory
  * — the same operational surface as every other dataset.
  */
object Artifacts {

  val ImportanceLmName = "importance_lm"
  val BpeMergesName = "bpe_merges"
  val EvalBucketsName = "decontamination_buckets"
  val DriftBaselineName = "drift_baseline"
  val CentroidsName = "ann_centroids"
  val IvfCellsName = "ann_ivf_cells"
  val ClassifierName = "quality_classifier"
  val NgramClassifierName = "quality_classifier_ngram"
  val PqCodebooksName = "pq_codebooks"

  /** Persist one artifact version. Versions are immutable: writing an
    * existing (name, version) fails rather than silently replacing the
    * artifact a running pipeline may be reading.
    */
  def save(df: DataFrame, root: String, name: String, version: Int): String = {
    val path = s"$root/$name/v=$version"
    df.write.mode("errorifexists").parquet(path)
    path
  }

  /** Versions present for an artifact, ascending. */
  def versions(spark: SparkSession, root: String, name: String): Seq[Int] = {
    val dir = new Path(s"$root/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      // Strictly v=<digits>: a stray non-numeric directory (a tool's
      // v=tmp, a manual copy) must be ignored, not crash every
      // versions()/load() of this artifact with NumberFormatException.
      .collect { case s if s.matches("v=\\d+") => s.drop(2).toInt }
      .sorted
  }

  /** Load one artifact version (default: the latest). */
  def load(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(versions(spark, root, name).lastOption)
      .getOrElse(throw new NoSuchElementException(
        s"no versions of artifact '$name' under $root"))
    graft.queries.Tables.read(spark, s"$root/$name/v=$v")
  }

  // --- typed codecs --------------------------------------------------

  /** Importance LM <-> (bucket, dw, is_default) rows; the default rides
    * as one flagged row so the frame is self-contained.
    */
  def saveImportanceLm(spark: SparkSession, root: String, version: Int,
      lm: Importance.Lm): String = {
    import spark.implicits._
    val rows = lm.dw.toSeq.map { case (b, d) => (b, d, false) } :+
      ((-1L, lm.default, true))
    save(rows.toDF("bucket", "dw", "is_default"), root,
      ImportanceLmName, version)
  }

  def loadImportanceLm(spark: SparkSession, root: String,
      version: Option[Int] = None): Importance.Lm = {
    val rows = load(spark, root, ImportanceLmName, version)
      .select("bucket", "dw", "is_default").collect()
    val default = rows.filter(_.getBoolean(2)).map(_.getLong(1)).toSeq
    require(default.size == 1,
      s"importance_lm artifact must carry exactly one default row, " +
        s"got ${default.size}")
    Importance.Lm(
      rows.filterNot(_.getBoolean(2))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      default.head)
  }

  /** BPE merge table <-> (rank, left, right) rows; rank preserves the
    * training order the encoder's greedy apply depends on.
    */
  def saveBpeMerges(spark: SparkSession, root: String, version: Int,
      merges: Seq[Bpe.Merge]): String = {
    import spark.implicits._
    save(merges.map(m => (m.rank, m.left, m.right))
      .toDF("rank", "left", "right"), root, BpeMergesName, version)
  }

  def loadBpeMerges(spark: SparkSession, root: String,
      version: Option[Int] = None): Seq[Bpe.Merge] =
    load(spark, root, BpeMergesName, version)
      .orderBy(col("rank"))
      .select("rank", "left", "right").collect().toSeq
      .map(r => Bpe.Merge(r.getInt(0), r.getString(1), r.getString(2)))

  /** Decontamination eval-bucket set <-> (bucket) rows. */
  def saveEvalBuckets(spark: SparkSession, root: String, version: Int,
      buckets: Set[Long]): String = {
    import spark.implicits._
    save(buckets.toSeq.toDF("bucket"), root, EvalBucketsName, version)
  }

  def loadEvalBuckets(spark: SparkSession, root: String,
      version: Option[Int] = None): Set[Long] =
    load(spark, root, EvalBucketsName, version)
      .select("bucket").collect().map(_.getLong(0)).toSet

  /** ANN/k-means centroid frame (cluster_id, cvec). The vector index's
    * train-once/query-many contract: `Ann.kmeansTrain` runs offline,
    * the centroids persist here, and every later search session loads
    * them (`loadIvfCentroids` below feeds `Ann.ivfTopK` directly) —
    * the corpus cell assignment then amortizes across all queries.
    */
  def saveCentroids(spark: SparkSession, root: String, version: Int,
      centroids: DataFrame): String = {
    require(centroids.columns.toSet == Set("cluster_id", "cvec"),
      s"centroid frame must be (cluster_id, cvec), " +
        s"got ${centroids.columns.mkString(", ")}")
    save(centroids, root, CentroidsName, version)
  }

  def loadCentroids(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    load(spark, root, CentroidsName, version).select("cluster_id", "cvec")

  /** The persisted centroids in `Ann.ivfTopK`'s (cell_id, cell_emb)
    * shape.
    */
  def loadIvfCentroids(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    loadCentroids(spark, root, version)
      .select(col("cluster_id").as("cell_id"), col("cvec").as("cell_emb"))

  /** IVF cell assignment (vec_id, cell_id, embedding) —
    * `Ann.assignCells`' output, the once-per-corpus-snapshot pass the
    * AnnStream scaladoc says to "persist like any artifact" (now an
    * actual codec, not an exercise for the caller): assign on corpus
    * publish, save here, and every later query session —
    * `Ann.ivfTopKFromCells` batch calls or an
    * `AnnStream.ivfQueryRelay` — serves from the LOADED frame with no
    * corpus-wide pass of its own. Corpus-sized like the PQ codes: the
    * artifact store is a parquet table directory, so the frame scans,
    * prunes, and broadcasts exactly like any other table.
    */
  def saveIvfCells(spark: SparkSession, root: String, version: Int,
      cells: DataFrame): String = {
    require(Set("vec_id", "cell_id", "embedding")
      .subsetOf(cells.columns.toSet),
      s"IVF cell frame must carry (vec_id, cell_id, embedding), " +
        s"got ${cells.columns.mkString(", ")}")
    save(cells.select("vec_id", "cell_id", "embedding"), root,
      IvfCellsName, version)
  }

  def loadIvfCells(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    load(spark, root, IvfCellsName, version)
      .select("vec_id", "cell_id", "embedding")

  /** PQ codebook frame (sub, code, cvec) — `Ann.pqTrain`'s output,
    * `Ann.pqEncode`/`pqTopK`'s input: train the subspace codebooks
    * once offline, persist here, and every later session encodes and
    * ADC-searches from the loaded frame (the codes themselves are then
    * a corpus-sized dataset, stored like any other table).
    */
  def savePqCodebooks(spark: SparkSession, root: String, version: Int,
      codebooks: DataFrame): String = {
    require(codebooks.columns.toSet == Set("sub", "code", "cvec"),
      s"PQ codebook frame must be (sub, code, cvec), " +
        s"got ${codebooks.columns.mkString(", ")}")
    save(codebooks, root, PqCodebooksName, version)
  }

  def loadPqCodebooks(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame =
    load(spark, root, PqCodebooksName, version).select("sub", "code", "cvec")

  /** QualityModel weights <-> (pos, w) rows; pos preserves the feature
    * order the scorer's dot product depends on.
    */
  def saveClassifier(spark: SparkSession, root: String, version: Int,
      weights: graft.operators.QualityModel.Weights): String = {
    import spark.implicits._
    save(weights.w.zipWithIndex.map { case (w, p) => (p, w) }
      .toDF("pos", "w"), root, ClassifierName, version)
  }

  def loadClassifier(spark: SparkSession, root: String,
      version: Option[Int] = None): graft.operators.QualityModel.Weights = {
    val rows = load(spark, root, ClassifierName, version)
      .orderBy(col("pos")).select("pos", "w").collect()
    require(rows.map(_.getInt(0)).toSeq ==
      (0 until graft.operators.QualityModel.Dim),
      s"classifier artifact must carry positions " +
        s"0..${graft.operators.QualityModel.Dim - 1}")
    graft.operators.QualityModel.Weights(rows.map(_.getDouble(1)).toSeq)
  }

  /** Hashed-bigram QualityModel weights <-> (pos, w) rows; the bias
    * rides at pos -1, buckets at 0..NgramBuckets-1.
    */
  def saveNgramClassifier(spark: SparkSession, root: String, version: Int,
      weights: graft.operators.QualityModel.NgramWeights): String = {
    import spark.implicits._
    val rows = (-1, weights.bias) +:
      weights.w.zipWithIndex.map { case (w, p) => (p, w) }
    save(rows.toDF("pos", "w"), root, NgramClassifierName, version)
  }

  def loadNgramClassifier(spark: SparkSession, root: String,
      version: Option[Int] = None): graft.operators.QualityModel.NgramWeights = {
    val rows = load(spark, root, NgramClassifierName, version)
      .orderBy(col("pos")).select("pos", "w").collect()
    require(rows.map(_.getInt(0)).toSeq ==
      (-1 until graft.operators.QualityModel.NgramBuckets),
      "ngram classifier artifact must carry positions " +
        s"-1..${graft.operators.QualityModel.NgramBuckets - 1}")
    graft.operators.QualityModel.NgramWeights(rows.head.getDouble(1),
      rows.tail.map(_.getDouble(1)).toIndexedSeq)
  }

  /** Drift baseline shares <-> (bin, share) rows. */
  def saveDriftBaseline(spark: SparkSession, root: String, version: Int,
      shares: Seq[Double]): String = {
    require(shares.size == Drift.Bins,
      s"drift baseline must carry ${Drift.Bins} shares, got ${shares.size}")
    import spark.implicits._
    save(shares.zipWithIndex.map { case (s, b) => (b, s) }
      .toDF("bin", "share"), root, DriftBaselineName, version)
  }

  def loadDriftBaseline(spark: SparkSession, root: String,
      version: Option[Int] = None): Seq[Double] = {
    val rows = load(spark, root, DriftBaselineName, version)
      .orderBy(col("bin")).select("bin", "share").collect()
    require(rows.map(_.getInt(0)).toSeq == (0 until Drift.Bins),
      s"drift baseline artifact must carry bins 0..${Drift.Bins - 1}")
    rows.map(_.getDouble(1)).toSeq
  }
}
