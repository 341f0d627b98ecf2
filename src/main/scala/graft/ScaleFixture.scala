package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.queries.Tables

/** Build a larger-SF fixture from an existing one by union-multiplying
  * the three scale-sensitive tables (documents, embeddings, events) with
  * id offsets — the local stand-in for the next scale factor, used to
  * extend SCALE.md's scaling table with a third point where the caps
  * bind. Remaining tables are copied verbatim.
  *
  * Replicas must not manufacture cross-replica near-duplicates (that
  * would change the workload's character, not its size), so each replica
  * is perturbed deterministically:
  *  - documents: every word gets a replica tag suffix. Within a replica
  *    the token sequence (hence every n-gram shingle, hence every
  *    pairwise jaccard) is EXACTLY the original's, so dup density grows
  *    with the corpus as it would in production; across replicas no
  *    shingle can match. (A hash-sorted word shuffle was tried first and
  *    rejected: canonicalizing word order makes unrelated documents
  *    sharing any n-word vocabulary subset align — candidate pairs
  *    exploded 321× at mult=3, an artifact, not a workload.)
  *  - embeddings: a replica-specific sign mask (negate dims where
  *    (i >> (r-1)) & 1 == 1) — norms preserved. At dim=64 only bits
  *    0..5 of the index exist, so replicas r=1..6 get distinct
  *    orthogonal-ish masks (cross-replica cosine collapses toward 0)
  *    and every replica r>=7 has a ZERO mask — an EXACT copy of the
  *    base vectors under fresh ids. That ceiling is embraced, not
  *    fixed: at mult>=10 the fixture is deliberately a
  *    "clone-augmented" corpus (SCALE.md's term) whose TRUE
  *    near-duplicate density grows with the multiplier — the regime a
  *    production dedup pass faces — and every committed scale
  *    artifact (CORRECTNESS_sf10/30/100) was generated and
  *    cross-engine-verified against exactly these bytes, so the mask
  *    scheme must stay bit-stable.
  *  - events: id offsets only; the hourly grid keeps its shape, so
  *    users-per-hour multiplies — exactly the regime the correlation
  *    cohort cap exists for.
  *
  * Usage: runMain graft.ScaleFixture <srcDir> <outDir> [mult]
  */
object ScaleFixture {

  private val IdOffset = 100000000L

  /** The committed scale points (fixture multipliers) the round
    * artifacts are generated at — mult=1 is the raw driver fixture.
    * SINGLE SOURCE OF TRUTH: LshPlanOracleSpec derives its libm-margin
    * grid from this list, so adding a scale point here automatically
    * extends the cross-engine drift tripwire to the new corpus counts
    * (the r13 gap: the spec's hand-written list would have silently
    * not covered a future mult=300 artifact).
    */
  val CommittedMults: Seq[Long] = Seq(1L, 3L, 10L, 30L, 100L, 300L, 1000L, 3000L)

  /** Replica word tagging: suffix every token with "~r". Order-preserving
    * and injective per replica — within-replica shingle sets are
    * isomorphic to the original's (identical jaccard structure), across
    * replicas disjoint.
    */
  private def reword(r: Int): Column =
    concat_ws(" ", transform(
      filter(split(col("text"), "\\s+"), w => length(w) > 0),
      w => concat(w, lit(s"~$r"))))

  /** Replica-specific sign mask over embedding dims. */
  private def signFlip(r: Int): Column =
    transform(col("embedding"), (x, i) =>
      when(shiftright(i, r - 1) % 2 === 1, -x).otherwise(x))

  /** Union the replicas as a BALANCED tree, not a left-deep
    * `reduce(_.unionByName(_))`: each unionByName call re-analyzes the
    * accumulated plan, and Union analysis visits every branch, so the
    * left-deep chain costs O(mult²) branch-visits on the driver — at
    * mult=1000 that was ~25 min of single-threaded Catalyst analysis
    * before the first task launched (and mult=3000 would be ~9× that).
    * Pairwise folding keeps every intermediate plan O(log mult) deep for
    * O(mult·log mult) total work; the optimizer's CombineUnions flattens
    * either shape to the same single n-ary Union, so the executed plan
    * and the produced rows are bit-identical to the left-deep form.
    */
  private def multiplied(df: DataFrame, mult: Int)(
      replica: (DataFrame, Int) => DataFrame): DataFrame = {
    var layer: Seq[DataFrame] = (0 until mult).map {
      case 0 => df
      case r => replica(df, r)
    }
    while (layer.size > 1)
      layer = layer.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a)    => a
      }.toSeq
    layer.head
  }

  /** Id range reserved for planted vectors — above every replica offset
    * any mult below 1000 can produce (replica ids top out below 1e11)
    * AND above the embed-oracle clone range (CloneIdOffset 1e11+1 +
    * replica ids), so planted ids never collide. The previous 9e8 base
    * sat INSIDE replica r=9's id range — the same latent id-space
    * collision the first mult=300 run exposed for the old clone offset.
    */
  val HotIdBase: Long = 900000000000L

  /** Planted dense near-duplicate cluster for skew-torture runs
    * (SkewTortureSpec + the SCALE.md skew measurements): `n` vectors
    * within `noise` of the e0 axis, pairwise cosine ~1 − O(noise²) —
    * one genuinely hot LSH bucket / IVF cell, the shape the
    * nearDupPairs guard and semDedup's sub-split repair exist for.
    *
    * Perturbations are per-(row, dim) deterministic (xxhash64 of the
    * flat index — no RNG, reproducible across sessions and
    * partitionings). The default noise 0.1 threads two needles at once:
    *  - SEPARABLE by the sub-k-means split: what the split quantizes is
    *    the BETWEEN-CENTROID squared-L2 difference, which scales like
    *    noise² (−2v·(c1−c2) with |c1−c2| ~ noise) — 0.1 gives hundreds
    *    of r4 levels, whereas 0.01 gives ~6 and the quantized argmin
    *    tie-clumps into one sub-cell until the depth limit throws
    *    (semDedup's documented indistinguishable-at-r4 failure, a
    *    DIFFERENT path than the repair this cluster exists to drive);
    *  - STABLE under the hyperplane LSH: a sign flip needs
    *    |noise·h·u| > |h·e0| = 1, and at noise 0.1, dim 64 the flip
    *    probability is ~1e-5 per bit — the cluster stays one bucket.
    * Pairwise cosines sit ~0.98-0.999: use a dup threshold of 0.95
    * (thresholdQ 9500) when mining a planted cluster.
    */
  def plantHotCluster(spark: SparkSession, dim: Int, n: Long,
      noise: Double = 0.1, idBase: Long = HotIdBase): DataFrame =
    spark.range(n).select(
      (col("id") + idBase).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (when(j === 0, 1.0).otherwise(0.0) +
          lit(noise) * (pmod(xxhash64(col("id") * dim + j), lit(1000))
            .cast("double") / 1000 - 0.5)).cast("float")).as("embedding"),
      lit(-1).as("label"))

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark: SparkSession = Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, mult)
    println(s"""{"scale_fixture":{"src":"$src","out":"$out","mult":$mult}}""")
    spark.stop()
  }

  /** The multiply-and-write body, session supplied by the caller (main
    * owns its session and stops it; FixtureSchemaSpec drives this with
    * the shared test session).
    */
  def run(spark: SparkSession, src: String, out: String,
      mult: Int): Unit = {
    // events.ts round-trips in whatever unit the source carries:
    // nanosAsLong lets a NANOS-era fixture read (as nano longs, written
    // back as longs); a native-MICROS fixture passes through as
    // TIMESTAMP_NTZ. Tables.load dispatches on the observed type at
    // query time, so both round-trips are equivalent downstream.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(out).mkdirs()

    multiplied(Tables.read(spark, s"$src/documents.parquet"), mult) {
      (df, r) => df
        .withColumn("doc_id", col("doc_id") + lit(r * IdOffset))
        .withColumn("text", reword(r))
        .withColumn("n_chars", length(col("text")))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    multiplied(Tables.read(spark, s"$src/embeddings.parquet"), mult) {
      (df, r) => df
        .withColumn("vec_id", col("vec_id") + lit(r * IdOffset))
        .withColumn("embedding", signFlip(r))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    multiplied(Tables.read(spark, s"$src/events.parquet"), mult) {
      (df, r) => df
        .withColumn("event_id", col("event_id") + lit(r * IdOffset))
        .withColumn("user_id", col("user_id") + lit(r * IdOffset))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
