package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.VectorFunctions
import graft.queries.Det

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Two paths:
  *  - bruteForceTopK: exact baseline — corpus x broadcast(queries), one
  *    codegen'd dot per pair, per-query top-k. Cost |corpus|*|Q|*dim;
  *    right when |Q| is small.
  *  - ivfTopK: the scale path — corpus is coarse-quantized once into
  *    cells around a centroid set (one aggregation, no pairwise blowup);
  *    each query probes only its nprobe nearest cells. Cost per query
  *    drops by ~|cells|/nprobe. Centroids come from the caller (a seeded
  *    sample or offline k-means); at 100 TB the cell assignment is a
  *    write-once partitioning of the corpus that all future queries
  *    reuse.
  *
  * Determinism: every ranking ties-breaks on ids after rounding scores
  * (Det.r4), so the cut is stable across engines and partitionings.
  */
object Ann {

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // rn cast to long: keeps the output representation identical to SQL
    // engines whose row_number() is 64-bit (cross-engine hash stability).
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select("q_id", "vec_id", "score", "rn")
  }

  private def cosineScore(a: Column, b: Column): Column =
    Det.r4(VectorFunctions.cosine(a, b))

  /** Exact top-k: queries must be small (broadcast side). Expects
    * corpus(vec_id, embedding) and queries(q_id, q_emb).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      corpus.crossJoin(broadcast(queries))
        .select(col("q_id"), col("vec_id"),
          cosineScore(col("q_emb"), col("embedding")).as("score")),
      k)

  /** Assign each corpus vector to its nearest centroid (max cosine, id
    * tiebreak) — one map-ONLY pass: the centroid set rides a single
    * broadcast row and the per-vector argmax folds over it in place.
    * The previous crossJoin + groupBy(vec_id) form materialized
    * |corpus| x k scored rows and then needed a max_by whose
    * struct-typed buffer forces SortAggregate — a per-partition sort of
    * |corpus| x k rows plus an Exchange carrying every embedding — for
    * an argmax that is a pure per-row function (guide §2.4).
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroidsRow(centroids)))
      .select(col("vec_id"), col("embedding"),
        bestCell(col("embedding"), col("cents")).as("m"))
      .where(col("m").isNotNull)
      .select(col("vec_id"), col("embedding"),
        (-col("m.negid")).as("cell_id"))

  /** Hard cap on k x dim for the single-row centroid broadcast: 2^26
    * elements is ~512 MB of double payload — comfortably inside the
    * 2 GiB single-row and 8 GiB broadcast hard limits while far above
    * any IVF/semdedup centroid set this engine declares (k in the
    * hundreds, dim <= a few thousand). Raise via
    * SPARK_GRAFT_MAX_CENTROID_ELEMS on executors sized for it. Above
    * the cap the row raises LOUDLY (plan-embedded, no extra job)
    * instead of silently approaching the 2 GiB wall with an opaque
    * buffer error — the same guard convention as the PQ grid checks.
    * A def (read per assignCells call): the `graft.maxCentroidElems`
    * system property lets AnnSpec exercise the guard without building a
    * half-GiB centroid set.
    */
  private[operators] def MaxCentroidElems: Long =
    sys.env.get("SPARK_GRAFT_MAX_CENTROID_ELEMS")
      .orElse(sys.props.get("graft.maxCentroidElems"))
      .map(_.toLong).getOrElse(1L << 26)

  /** The whole centroid frame as ONE broadcastable row
    * (array<struct<cell_id, cell_emb>>), guarded against silently
    * outgrowing the single-row/broadcast limits.
    */
  private def centroidsRow(centroids: DataFrame): DataFrame =
    centroids.groupBy().agg(
        collect_list(struct(col("cell_id"), col("cell_emb"))).as("cents"),
        count(lit(1)).as("__k"),
        max(size(col("cell_emb"))).cast("long").as("__dim"))
      .select(
        // coalesce: an EMPTY centroid frame aggregates __dim to null —
        // it must keep the old contract (empty cents array -> bestCell
        // null -> rows dropped), not trip the guard
        when(col("__k") * coalesce(col("__dim"), lit(0L)) <=
            MaxCentroidElems, col("cents"))
          .otherwise(raise_error(concat(
            lit("assignCells: centroid set too large for the single-row " +
              "broadcast: k="), col("__k").cast("string"),
            lit(" x dim="), col("__dim").cast("string"),
            lit(s" exceeds $MaxCentroidElems elements (set " +
              "SPARK_GRAFT_MAX_CENTROID_ELEMS to raise on executors " +
              "sized for it)")))).as("cents"))

  /** Per-row nearest-centroid argmax: score every centroid with the
    * same quantized cosine, take the array_max of (aff, -cell_id)
    * structs. array_max's struct ordering is the identical interpreted
    * ordering max_by used on struct(aff, -cell_id) — including the
    * NaN-sorts-greatest double semantics and the null-element skip —
    * so the chosen cell and its aff are unchanged. Empty/absent
    * centroid set -> null (callers drop those rows, matching the old
    * crossJoin-with-empty emitting nothing).
    */
  private def bestCell(embedding: Column, cents: Column): Column =
    array_max(transform(cents, c => struct(
      cosineScore(embedding, c.getField("cell_emb")).as("aff"),
      (-c.getField("cell_id")).as("negid"))))

  /** Embedding near-duplicate pairs: multi-band random-hyperplane LSH
    * candidate generation, then exact cosine >= threshold verification.
    *
    * Scale shape mirrors the MinHash-LSH path: the band self-join carries
    * only (vec_id, band, h) — ids and two small ints, never embeddings —
    * candidates are deduped BEFORE the vectors are joined back for the
    * one exact cosine per surviving pair. Nothing is all-pairs; the
    * candidate count is bounded by per-bucket populations (~n^2/2^bits
    * per band at worst, with nBands/bitsPerBand the recall/volume dial —
    * see VectorFunctions.hyperplaneBands). Expects emb(vec_id, embedding).
    */
  def nearDupPairs(emb: DataFrame, dim: Int, threshold: Double,
      nBands: Int = 16, bitsPerBand: Int = 8, seed: Long = 42L,
      maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // Materialize the banded projection before the self-join: the
    // HyperplaneBands expression evaluates per reference — uncached,
    // each join side would recompute the full nBands x bitsPerBand x dim
    // projection pass (and regenerate the plane matrix per expression
    // instance) — same reasoning as the MinHash signature cache. At
    // cluster scale this stage is a checkpoint/parquet write instead.
    // `sigs` (the full per-band hash vector, nBands longs) rides along
    // so the self-join below can emit each candidate pair from its
    // FIRST colliding band only. Without it, a pair of near-identical
    // vectors collides in ~every band and the pre-distinct candidate
    // stream carries an nBands× duplicate multiplier INTO THE SHUFFLE
    // — measured at mult=300 (~295-member clone clusters, 22-band auto
    // plan): a ~3·10⁹-row / ~70 GB shuffle that outgrew the host's
    // disk, of which 21/22 was duplicate emissions. The min-band
    // filter runs inside the join stage BEFORE anything is shuffled,
    // so the distinct shuffle carries each pair once at any density.
    // Trade-off: `sigs` widens every exploded row by nBands longs —
    // O(n·nBands²) through executor storage and both self-join inputs
    // (~22× wider rows at the 22-band plan). On a SPARSE corpus, where
    // candidate pairs rarely collide in more than one band, that width
    // buys little dedup; it pays for itself exactly when duplicate
    // density is high (the regime this operator targets). If executor
    // storage ever becomes the binding constraint at larger band
    // counts, persist this frame MEMORY_AND_DISK_SER instead of the
    // default — the rows are a long array plus scalars, which
    // serialize compactly.
    val banded = Materialize.pin(emb.select(col("vec_id"),
        VectorFunctions.hyperplaneBands(
          col("embedding"), dim, nBands, bitsPerBand, seed).as("bhs"))
      .select(col("vec_id"),
        transform(col("bhs"), bh => bh.getField("h")).as("sigs"),
        explode(col("bhs")).as("bh"))
      .select(col("vec_id"), col("sigs"),
        col("bh.band").as("band"), col("bh.h").as("h")), eager = false)
    // Hot-bucket guard — LOUD, never a silent quadratic (the semDedup
    // principle). Two distinct causes land here and NEITHER has a
    // silent repair: (a) under-resolved LSH — for fixed bitsPerBand
    // the expected bucket is N/2^bits, so candidate pairs grow
    // N²/2^bits with the corpus; the fix is retuning bits to corpus
    // size, a caller decision. (b) a genuinely dense near-identical
    // cluster — which OWES c²/2 output pairs under this operator's
    // all-pairs contract, so unlike semDedup's hot cells there is no
    // semantics-preserving split, and silently dropping the bucket
    // (the shingle-DF-cap move) would lose exactly the densest
    // duplicate clusters, the ones dedup exists for. The probe rides
    // the cache the self-join was about to materialize anyway
    // (measured on semDedup: the count itself is noise; it was the
    // string keys that cost 1.8x there). The probe materializes the
    // cache, so a guard trip frees it: otherwise every trip in a
    // long-lived session would pin one banded projection for good.
    Materialize.freeOnThrow(banded) {
      val hot = banded.groupBy(col("band"), col("h"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") > maxBucket)
        .orderBy(col("n").desc).limit(5)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      if (hot.nonEmpty) {
        val worst = hot.map { case (b, h, n) => s"band=$b h=$h ($n)" }
          .mkString(", ")
        throw new IllegalStateException(
          s"nearDupPairs: LSH bucket(s) above maxBucket=$maxBucket " +
            s"(worst: $worst). Expected bucket size is ~N/2^bitsPerBand, " +
            "so candidate pairs grow ~N²/2^bits for FIXED bits — at this " +
            "corpus size the LSH is under-resolved. Fixes, in order: " +
            "(1) raise bitsPerBand to ~log2(N/1024) (more resolution per " +
            "band; add bands to hold recall); (2) for genuinely dense " +
            "near-identical clusters — which owe c²/2 output pairs by " +
            "this operator's CONTRACT and cannot be split away — use the " +
            "keeper-form dedup (Ann.nearDupKeepersAuto, O(c) per " +
            "cluster; Ann.semDedup / q_dedup_keepers); " +
            "(3) raise maxBucket to opt into the quadratic output " +
            "deliberately.")
      }
    }
    // min-band emission: a colliding pair is kept only in the first
    // band where its hashes agree, so each pair reaches the distinct
    // shuffle exactly once however many bands it collides in. Same
    // distinct pair set by construction — every candidate pair has a
    // first colliding band. The scan runs pre-shuffle inside the join
    // stage as a codegen'd early-exit loop (FirstEqualIndex; the
    // zip_with spelling would interpret a lambda per element on the
    // hottest row count in the engine): nBands compares per joined
    // row against the nBands×-smaller shuffle it buys.
    val cands = NearDup.bucketPairs(banded, "vec_id", Seq("band", "h"),
      Some(graft.expressions.VectorExpressions.firstEqualIndex(
        col("x.sigs"), col("y.sigs")) === col("x.band")))
    // integer cut: round(threshold·1e4), the oracled twins' cut
    val result = NearDup.verify(cands, emb, "vec_id", "embedding",
      VectorFunctions.cosine, math.round(threshold * 10000), "score")
    // release the banded cache once the pair frame first materializes —
    // a long-lived session calling this repeatedly must not accumulate
    // executor storage (the cache exists only to share the projection
    // between the self-join's two sides within one action)
    Materialize.releaseAfterFirstUse(result, banded)
  }

  /** A sized hyperplane-LSH band scheme: `bitsPerBand` resolves buckets
    * to ~targetBucket expected members, `nBands` holds recall at the
    * verification threshold, `expectedRecall` is the banding-formula
    * recall the scheme actually achieves (== targetRecall unless the
    * band cap bound it).
    */
  final case class LshPlan(bitsPerBand: Int, nBands: Int,
      expectedRecall: Double)

  /** Size an LSH band scheme from first principles — the executable form
    * of the hot-bucket guard's "retune bitsPerBand to ~log2(N/bucket)"
    * advice. Pure driver math, deterministic:
    *
    *  - bitsPerBand = clamp(ceil(log2(n / targetBucket)), minBits..maxBits):
    *    expected bucket population is n/2^bits, so this pins E[bucket]
    *    ~= targetBucket at ANY corpus size — candidate volume per band
    *    stays ~n*targetBucket/2 (linear in n) instead of n²/2^bits
    *    (quadratic for fixed bits — the r13 fixed-16x8 ledger query's
    *    measured 383.7x wall at mult=100; the ledger now rides this
    *    auto sizing via q_embed_neardup_auto).
    *  - nBands from the banding recall formula: a pair at cosine c
    *    collides per bit with p = 1 - acos(c)/pi, per band with p^bits,
    *    in >=1 of B bands with 1-(1-p^bits)^B — solve B for
    *    targetRecall at c = threshold (pairs ABOVE the threshold only
    *    collide more).
    *  - if B exceeds maxBands, bits step DOWN (never below minBits)
    *    until the recall target fits — trading candidate volume for
    *    recall explicitly rather than silently missing duplicates; if
    *    even minBits cannot reach the target, the plan caps at
    *    (minBits, maxBands) and reports the achieved recall, so the
    *    caller decides instead of discovering a recall hole later.
    *
    * targetBucket's default (256) keeps per-band candidate work at
    * ~128·n comparisons — the linear-with-small-constant regime — while
    * staying far enough above dedup cluster sizes that true duplicate
    * groups (which owe their c²/2 pairs by contract) don't trip the
    * bucket guard.
    */
  def lshPlan(n: Long, threshold: Double, targetRecall: Double = 0.999,
      targetBucket: Long = 256L, minBits: Int = 6, maxBits: Int = 24,
      maxBands: Int = 64): LshPlan = {
    require(n > 0, s"lshPlan: corpus size $n must be positive")
    require(threshold > 0.0 && threshold < 1.0,
      s"lshPlan: threshold $threshold outside (0,1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"lshPlan: targetRecall $targetRecall outside (0,1)")
    require(targetBucket >= 1 && minBits >= 1 && maxBits >= minBits &&
      maxBands >= 1, "lshPlan: degenerate bounds")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val fromN = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))
      .toInt
    stepDownPlan(p, fromN, targetRecall, minBits, maxBits, maxBands)
  }

  /** Shared band-solving core of the cosine and Jaccard plan forms:
    * starting from `fromN` per-band hashes (clamped to minK..maxK),
    * solve the band count from the banding recall formula
    * 1-(1-pPerHash^k)^B >= targetRecall, stepping k DOWN when the
    * band cap binds — identical algebra (and identical IEEE op
    * sequence, which the q_lsh_plan oracle's libm-margin contract
    * depends on) for both families; only pPerHash differs
    * (1 - acos(t)/pi for sign planes, t itself for MinHash rows).
    */
  private def stepDownPlan(pPerHash: Double, fromN: Int,
      targetRecall: Double, minK: Int, maxK: Int, maxBands: Int): LshPlan = {
    def bandsFor(k: Int): (Int, Double) = {
      val pBand = math.pow(pPerHash, k)
      // B = ceil(ln(1-target)/ln(1-pBand)), guarded: pBand ~ 1 means one
      // band already exceeds the target
      val exact =
        if (pBand >= 1.0) 1
        else math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt
      val b = math.min(maxBands, math.max(1, exact))
      (b, 1.0 - math.pow(1.0 - pBand, b))
    }
    var k = math.min(maxK, math.max(minK, fromN))
    var (bands, recall) = bandsFor(k)
    while (recall < targetRecall && k > minK) {
      k -= 1
      val br = bandsFor(k); bands = br._1; recall = br._2
    }
    LshPlan(k, bands, recall)
  }

  /** [[lshPlan]]'s Jaccard/MinHash-banding sibling: size (rowsPerBand,
    * nBands) for a MinHash LSH scheme from the corpus count. Identical
    * recall algebra — a pair at Jaccard s collides per band with s^rows
    * (each row-hash agrees with probability s), in >=1 of B bands with
    * 1-(1-s^rows)^B — so `bitsPerBand` in the returned [[LshPlan]] is
    * ROWS per band here.
    *
    * The resolution dial differs from the cosine form because MinHash
    * band buckets have no 2^bits pigeonhole: candidate volume is driven
    * by BACKGROUND pairs colliding, E[cands/band] ~ C(n,2)·s_bg^rows
    * for background similarity s_bg. Holding that at ~n·targetBucket/2
    * (the same linear-in-n regime lshPlan pins) gives
    * rows = ceil(ln(n/targetBucket)/ln(1/s_bg)) — log-n growth, base
    * 1/s_bg. `backgroundSim`'s default 0.1 is deliberately pessimistic
    * for text dedup (unrelated documents share almost no shingles, so
    * the TRUE background Jaccard is ~0 and the real volume lands well
    * under the bound); callers with boilerplate-heavy corpora (higher
    * background overlap) pass their measured s_bg. As in lshPlan, if
    * the recall target cannot be held within maxBands, rows step down
    * (trading candidate volume for recall, explicitly reported).
    */
  def lshPlanJaccard(n: Long, threshold: Double,
      targetRecall: Double = 0.999, targetBucket: Long = 256L,
      backgroundSim: Double = 0.1, minRows: Int = 2, maxRows: Int = 16,
      maxBands: Int = 64): LshPlan = {
    require(n > 0, s"lshPlanJaccard: corpus size $n must be positive")
    require(threshold > 0.0 && threshold < 1.0,
      s"lshPlanJaccard: threshold $threshold outside (0,1)")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"lshPlanJaccard: targetRecall $targetRecall outside (0,1)")
    require(backgroundSim > 0.0 && backgroundSim < threshold,
      s"lshPlanJaccard: backgroundSim $backgroundSim outside (0,threshold)")
    require(targetBucket >= 1 && minRows >= 1 && maxRows >= minRows &&
      maxBands >= 1, "lshPlanJaccard: degenerate bounds")
    val fromN = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(1.0 / backgroundSim)).toInt
    stepDownPlan(threshold, fromN, targetRecall, minRows, maxRows, maxBands)
  }

  /** [[nearDupPairs]] with the band scheme sized by [[lshPlan]] from the
    * corpus's own count — one count() (metadata-cheap on parquet) buys a
    * scheme whose candidate volume stays linear in n. Same verification
    * stage, same hot-bucket guard (which after auto-sizing can only trip
    * on a genuinely dense duplicate cluster — the case the guard's
    * message routes to keeper-form dedup).
    */
  def nearDupPairsAuto(emb: DataFrame, dim: Int, threshold: Double,
      targetRecall: Double = 0.999, targetBucket: Long = 256L,
      seed: Long = 42L, maxBucket: Long = DefaultMaxBucket): DataFrame = {
    val plan = countedPlan("nearDupPairsAuto", emb, threshold, targetRecall,
      targetBucket)
    nearDupPairs(emb, dim, threshold, plan.nBands, plan.bitsPerBand, seed,
      maxBucket)
  }

  /** [[lshPlan]] from `emb`'s own count, reported on stderr under
    * `caller`. An empty corpus plans like n=1 (the oracle SQL's
    * greatest(1.0, n/tb) path makes the two cases identical — same
    * convention as q_lsh_plan) and degrades to zero output pairs
    * instead of throwing on the lshPlan precondition.
    */
  private def countedPlan(caller: String, emb: DataFrame, threshold: Double,
      targetRecall: Double, targetBucket: Long): LshPlan = {
    val n = emb.count()
    val plan = lshPlan(math.max(1L, n), threshold, targetRecall,
      targetBucket)
    System.err.println(s"[$caller] n=$n -> bits=" +
      s"${plan.bitsPerBand} bands=${plan.nBands} " +
      f"expectedRecall=${plan.expectedRecall}%.4f")
    plan
  }

  /** Verified STAR edges per LSH bucket — the scale-safe alternative to
    * [[nearDupPairs]]'s all-pairs contract under DENSE duplicate
    * clusters. Each (band, bucket) contributes one candidate edge from
    * every member to the bucket's min-id member (O(c) per bucket) instead
    * of C(c,2) pairs; each edge is then verified with the SAME
    * integer-quantized cosine cut the all-pairs form uses. A c-member
    * exact-duplicate cluster costs c-1 verified edges here versus
    * c·(c-1)/2 pairs there — the difference between a ~2 MB and a ~70 GB
    * shuffle at the mult=1000 clone fixture (~994-replica groups, 24
    * bands), where the all-pairs form is the one query of the ledger
    * that outgrows a single host (SCALE.md, seventh point).
    *
    * Shuffle shape: one explode to n·nBands (vec_id, band, h) rows, ONE
    * hash-partition + sort for the per-bucket window min (no self-join
    * at all), a distinct over <= n·nBands candidate edges, and a linear
    * join-back for verification. No hot-bucket guard is needed — a hot
    * bucket is exactly the case this operator is linear in.
    *
    * Downstream contract (connectivity witness; refines, never
    * over-merges): [[NearDup.starEdges]]. [[nearDupPairs]] remains the
    * oracle anchor at scales where its output fits (full cross-engine
    * compare certified at mult=300).
    */
  def nearDupStarEdges(emb: DataFrame, dim: Int, threshold: Double,
      plan: LshPlan, seed: Long = 42L): DataFrame = {
    val banded = emb.select(col("vec_id"),
        explode(VectorFunctions.hyperplaneBands(
          col("embedding"), dim, plan.nBands, plan.bitsPerBand, seed))
          .as("bh"))
      .select(col("vec_id"), col("bh.band").as("band"), col("bh.h").as("h"))
    NearDup.verify(NearDup.starEdges(banded, "vec_id", Seq("band", "h")),
      emb, "vec_id", "embedding", VectorFunctions.cosine,
      math.round(threshold * 10000), "score")
  }

  /** Keeper-direct embedding near-dup: auto-sized LSH ([[lshPlan]] from
    * the corpus's own count), [[nearDupStarEdges]] for connectivity, and
    * connected components over the verified star edges — (vec_id,
    * keeper_id = min id of the duplicate component) for every vector
    * that joined any verified edge (singletons keep themselves and are
    * omitted, the q_neardup_components convention). This is what a
    * dedup pipeline actually consumes: [[nearDupPairsAuto]]'s full pair
    * set costs C(c,2) rows per c-member duplicate cluster — an
    * output-bound quadratic no consumer of keepers needs — while this
    * path is O(c) per cluster end to end and runs at mult=1000 on one
    * host where the all-pairs form provably cannot (SCALE.md seventh
    * point). Exactness conditions and the oracle-anchor relationship to
    * the all-pairs form: [[nearDupStarEdges]] scaladoc.
    */
  def nearDupKeepersAuto(emb: DataFrame, dim: Int, threshold: Double,
      targetRecall: Double = 0.999, targetBucket: Long = 256L,
      seed: Long = 42L): DataFrame = {
    val plan = countedPlan("nearDupKeepersAuto", emb, threshold,
      targetRecall, targetBucket)
    NearDup.components(nearDupStarEdges(emb, dim, threshold, plan, seed))
      .select(col("doc_id").as("vec_id"),
        col("component_id").as("keeper_id"))
  }

  /** IVF search: probe the nprobe highest-affinity cells per query, exact
    * top-k within the probed cells. Expects centroids(cell_id, cell_emb).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    ivfTopKFromCells(assignCells(corpus, centroids), queries, centroids,
      k, nprobe)

  /** IVF search over a PRE-ASSIGNED corpus — the query-many half of
    * train-once/query-many: `cells` is assignCells' output, computed
    * once (or persisted) and amortized across every query wave, so a
    * single wave costs one broadcast probe selection plus the probed
    * cells' exact scoring — no corpus-wide assignment pass. The
    * streaming face (AnnStream.ivfQueryRelay) runs exactly this per
    * micro-batch.
    */
  def ivfTopKFromCells(cells: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("aff").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("cell_id"),
        cosineScore(col("q_emb"), col("cell_emb")).as("aff"))
      .withColumn("prn", row_number().over(probeW))
      .where(col("prn") <= nprobe)
      .select("q_id", "q_emb", "cell_id")
    topKPerQuery(
      cells.join(broadcast(probes), "cell_id")
        .select(col("q_id"), col("vec_id"),
          cosineScore(col("q_emb"), col("embedding")).as("score")),
      k)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus around a centroid set, then
    * prune within clusters — an above-threshold pair never survives
    * whole. The member kept is the one LESS similar to its centroid
    * (the paper's diversity-preserving choice); concretely, a vector is
    * dropped iff some same-cell neighbor with quantized cosine >=
    * threshold has strictly lower (aff, vec_id) key. That pairwise rule
    * is order- and partition-independent: "dropped" is exactly "has a
    * lower-key above-threshold neighbor", no sequential scan order to
    * replicate.
    *
    * Scale shape — the published algorithm's own: candidate pairs exist
    * only WITHIN a cell (one equi-join on the cell key), so total pair
    * work is sum(c_i^2)/2, not |corpus|^2/2; the centroid side is a
    * bounded broadcast (the caller's k-means frame, [[kmeansTrain]] or
    * the Artifacts-persisted centroids); assignment is the same
    * one-pass map-side argmax as [[assignCells]]. At 100 TB the dial is
    * k: more cells shrink c_i quadratically while the assignment pass
    * stays one broadcast scan.
    *
    * HOT-CELL BOUND: sum(c_i^2)/2 is only a bound if no c_i is huge —
    * a skewed or degenerate centroid set (exactly what un-retrained
    * centroids on drifted data produce) used to send one cell
    * quadratic silently. Now one population count runs first; any cell
    * above `maxCellSize` is repaired before pair mining:
    *  1. exact-duplicate collapse (semantics-PRESERVING): identical
    *     nonzero embeddings always score r4q=10000 >= any threshold
    *     <= 10000 and share their centroid affinity, so only the
    *     lowest-vec_id member of a duplicate group can survive — the
    *     rest are dropped directly and only the representative enters
    *     pair mining. This alone linearizes the mass-duplicate cell,
    *     the common real-world skew.
    *  2. recursive keyed sub-k-means split (semantics-NARROWING,
    *     documented): still-hot cells are Lloyd-split SubSplitK ways —
    *     ALL hot cells in one pass, sub-centroids riding a single
    *     bounded broadcast — and pair candidates are then mined within
    *     sub-cells only, the SemDeDup move of raising k where density
    *     demands it (pairs across sibling sub-cells are no longer
    *     candidates; drop keys still use the ORIGINAL cell affinity).
    *  3. after SemSplitMaxDepth rounds a still-hot cell fails LOUDLY
    *     (vectors indistinguishable at r4 distance resolution yet not
    *     identical) with the offending cells and sizes — never a
    *     silent quadratic. Cells under the cap take path 0: the exact
    *     published semantics, byte-identical to the unbounded version
    *     (the oracle compares them digit-for-digit).
    *
    * Expects emb(vec_id, embedding), centroids(cell_id, cell_emb);
    * thresholdQ is the integer-quantized cosine cut (r4q scale, e.g.
    * 9500 for 0.95). Returns (vec_id, cell_id, dropped 0/1) for every
    * input vector (cell_id is always the ORIGINAL assignment — the
    * refinement key is internal).
    */
  def semDedup(emb: DataFrame, centroids: DataFrame,
      thresholdQ: Long,
      maxCellSize: Long = DefaultMaxCellSize): DataFrame = {
    // Map-only assignment (same move as assignCells): the argmax over
    // broadcast centroids is a per-row fold, so no |corpus| x k scored
    // rows, no struct-buffer SortAggregate, no Exchange carrying
    // embeddings — the cache below materializes straight off the scan.
    // (Measured and rejected: repartitioning this cache by cell_id to
    // co-partition the mining self-join — the join's two identical
    // exchanges are already shared at runtime, so the explicit
    // repartition only ADDED a shuffle: 1.04 s -> 1.32 s at sf0.1.)
    val assigned = Materialize.pin(
      emb.crossJoin(broadcast(centroidsRow(centroids)))
        .select(col("vec_id"), col("embedding"),
          bestCell(col("embedding"), col("cents")).as("m"))
        .where(col("m").isNotNull)
        .select(col("vec_id"), col("embedding"),
          (-col("m.negid")).as("cell_id"), col("m.aff").as("aff")),
      eager = false)
    // refineCells' population probes materialize the cache before its
    // irreducible-cell guard can throw — release on the failure path or
    // each guard trip pins one assignment frame in executor storage
    val (reps, forcedDrops) = Materialize.freeOnThrow(assigned)(
      refineCells(assigned, thresholdQ, maxCellSize))
    val x = reps.select(col("pair_key"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("aff").as("affa"))
    val y = reps.select(col("pair_key"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("aff").as("affb"))
    // a < b throughout, so on an aff tie the higher id (b) is dropped —
    // the scalar CASE is the (aff, vec_id) lexicographic key
    val mined = x.join(y, Seq("pair_key"))
      .where(col("a") < col("b"))
      .where(Det.r4q(VectorFunctions.cosine(col("ea"), col("eb"))) >=
        thresholdQ)
      .select(when(col("affa") > col("affb"), col("a")).otherwise(col("b"))
        .as("vec_id"))
    val dropped = forcedDrops.fold(mined)(mined.unionByName(_))
      .distinct()
      .withColumn("d", lit(1L))
    val result = assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"),
        coalesce(col("d"), lit(0L)).as("dropped"))
    // only the assignment PIN goes after the first action: the split
    // rounds' checkpoints are still read by `result` (through reps) and
    // cannot be recomputed, so they are left to the ContextCleaner
    Materialize.releaseAfterFirstUse(result, assigned)
  }

  /** Hot-cell cap for [[semDedup]]: pair work per cell is c²/2 exact
    * cosines, so 16384 bounds a cell at ~1.3e8 dot products — minutes
    * of one executor, not a runaway stage. Dial up with executor size:
    * `SPARK_GRAFT_SEMDEDUP_MAXCELL` raises the cap so every cell takes
    * path 0 (the published all-pairs-within-cell semantics, the form
    * the cross-engine oracle can follow) on hosts whose executors can
    * absorb the larger c²/2 — the dial the big-mult certification run
    * uses, and the same trade a 100 TB deployment makes explicitly.
    */
  val DefaultMaxCellSize: Long =
    sys.env.get("SPARK_GRAFT_SEMDEDUP_MAXCELL").map(_.toLong)
      .getOrElse(16384L)

  /** Hot-bucket bound for [[nearDupPairs]]' band self-join — same c²/2
    * rationale as [[DefaultMaxCellSize]], but the guard THROWS instead
    * of repairing (see the inline comment: all-pairs output over a
    * dense bucket is quadratic by contract). Fixture max bucket is 31
    * at sf0.1; production dense clusters belong in keeper-form dedup.
    */
  val DefaultMaxBucket: Long = 16384L

  private val SemSplitK = 8
  private val SemSplitIters = 4
  private val SemSplitMaxDepth = 4

  /** The hot-cell repair pass of [[semDedup]] (exposed for AnnSpec):
    * returns (reps, forcedDrops) where reps carries every surviving
    * pair-mining participant with its refinement key `pair_key` (==
    * cell_id as string when nothing was hot — the zero-cost common
    * case, one count aggregation and no plan change) and forcedDrops
    * is the exact-duplicate non-representatives already known dropped.
    * Guarantees on return: every pair_key population <= maxCellSize,
    * or an IllegalStateException named the irreducible cells (with
    * every round checkpoint freed first). reps reads the per-round
    * checkpoints, so on return they stay live for as long as reps or a
    * frame derived from it does (see [[graft.core.Materialize]]).
    */
  private[graft] def refineCells(assigned: DataFrame, thresholdQ: Long,
      maxCellSize: Long): (DataFrame, Option[DataFrame]) = {
    require(maxCellSize >= 16, s"maxCellSize=$maxCellSize too small to split")
    def hotOf(df: DataFrame): Array[(String, Long)] =
      df.groupBy(col("pair_key")).agg(count(lit(1)).as("n"))
        .where(col("n") > maxCellSize)
        .collect().map(r => (r.get(0).toString, r.getLong(1)))
    // Cheap common path: probe populations with pair_key as a ZERO-COST
    // long alias of cell_id, so when nothing is hot the returned plan is
    // byte-identical to the unbounded version (the pair-mining self-join
    // shuffles on the original long key — no per-row string cast, no
    // string-keyed shuffle). The probe itself rides the cached
    // assignment it was going to materialize anyway; its only extra
    // work is one count shuffle over (cell_id) pairs.
    var reps = assigned.withColumn("pair_key", col("cell_id"))
    var hot = hotOf(reps)
    if (hot.isEmpty) return (reps, None)
    // Something is hot: move to string refinement keys ("cell/sub/...")
    // for the split machinery below.
    reps = assigned.withColumn("pair_key", col("cell_id").cast("string"))

    // Stage 1 — exact-duplicate collapse within hot cells. Sound only
    // when identical vectors are guaranteed above the cut: r4q of an
    // identical nonzero pair is 10000 (zero-norm cosines are NaN and
    // never compare true, so zero vectors stay individual reps).
    var forced: Option[DataFrame] = None
    if (thresholdQ <= 10000L) {
      val isHot = col("pair_key").isInCollection(hot.map(_._1))
      val nz = VectorFunctions.dot(col("embedding"), col("embedding")) > 0
      val dupW = Window.partitionBy(col("pair_key"), col("embedding"))
        .orderBy(col("vec_id"))
      val ranked = reps.where(isHot && nz)
        .withColumn("rn", row_number().over(dupW))
      forced = Some(ranked.where(col("rn") > 1).select(col("vec_id")))
      reps = reps.where(!isHot || !nz)
        .unionByName(ranked.where(col("rn") === 1).drop("rn"))
      hot = hotOf(reps)
    }

    // Stage 2 — keyed Lloyd splits, all hot cells per round at once.
    // The split OUTPUT is localCheckpoint'd per round (r14): without
    // it the whole split subtree — SemSplitIters broadcast-join
    // assignments + decimal-exact centroid recomputes — re-executes
    // inside every later hotOf probe, every deeper round, and then
    // TWICE more as the x/y sides of the pair-mining self-join; the
    // re-execution, not the split math, dominated the measured
    // absorb cost (51.7 s -> 23.7 s at identical keeper output on the
    // mult=10 planted-cluster fixture; SCALE.md "Skew torture").
    // Values are unchanged by materialization, so keeper output is
    // bit-identical; same two-generation discipline as Components'
    // label propagation.
    var depth = 0
    val roundCkpts = scala.collection.mutable.Buffer.empty[DataFrame]
    while (hot.nonEmpty && depth < SemSplitMaxDepth) {
      val isHot = col("pair_key").isInCollection(hot.map(_._1))
      val (splitDf, splitTmp) = splitHotCells(reps.where(isHot))
      val mat = Materialize.checkpoint(splitDf, eager = true)
      // the round's internal checkpoints (embD, final sub-centroids)
      // are superseded the moment the round output materializes
      splitTmp.foreach(Materialize.free)
      roundCkpts += mat
      reps = reps.where(!isHot).unionByName(mat)
      depth += 1
      hot = hotOf(reps)
    }
    if (hot.nonEmpty) {
      // the throw abandons reps — nothing will ever read the round
      // checkpoints again, so free them here (the assignment cache is
      // released by semDedup's freeOnThrow)
      roundCkpts.foreach(Materialize.free)
      val worst = hot.sortBy(-_._2).take(5)
        .map { case (k, n) => s"$k($n)" }.mkString(", ")
      throw new IllegalStateException(
        s"semDedup: ${hot.length} cell(s) still above maxCellSize=" +
          s"$maxCellSize after exact-duplicate collapse and " +
          s"$SemSplitMaxDepth sub-k-means splits (worst: $worst) — " +
          "members are indistinguishable at r4 distance resolution but " +
          "not identical. Retrain/extend the centroid set " +
          "(Ann.kmeansTrain), raise maxCellSize, or pre-quantize the " +
          "embeddings.")
    }
    (reps, forced)
  }

  /** Keyed Lloyd sub-split: partition every hot pair_key SemSplitK ways
    * in ONE distributed pass per iteration — sub-centroids for ALL hot
    * cells ride a single broadcast (|hot| * SemSplitK rows), so there
    * is no per-cell driver loop and, crucially, no shuffle of the hot
    * members BY the hot key (that shuffle would recreate the very skew
    * being repaired). Deterministic like [[kmeansStep]]: decimal-exact
    * means, r4-quantized distances, sub-id tiebreak on the argmin.
    * Seeds are each cell's SubSplitK lowest vec_ids; an empty sub-cell
    * keeps its previous centroid.
    */
  private def splitHotCells(members: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    // materialized once: every Lloyd iteration's assignment join and
    // the seed window all read this frame — uncheckpointed, the
    // filter + float->double transform re-executes SemSplitIters+2
    // times per round (values unchanged by materialization)
    val embD = Materialize.checkpoint(members.select(col("pair_key"),
      col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")),
      eager = true)
    def assignTo(cent: DataFrame): DataFrame = {
      val cn = cent.withColumn("cn",
        VectorFunctions.dot(col("cvec"), col("cvec")))
      embD.join(broadcast(cn), Seq("pair_key"))
        .select(col("pair_key"), col("vec_id"), col("v"), col("sub"),
          Det.r4(lit(-2.0) * VectorFunctions.dot(col("v"), col("cvec")) +
            col("cn")).as("dq"))
        .groupBy(col("pair_key"), col("vec_id"))
        .agg(first(col("v")).as("v"),
          min(struct(col("dq"), col("sub"))).as("m"))
    }
    val seedW = Window.partitionBy(col("pair_key")).orderBy(col("vec_id"))
    var cent = Materialize.checkpoint(
      embD.withColumn("rn", row_number().over(seedW))
        .where(col("rn") <= SemSplitK)
        .select(col("pair_key"), (col("rn") - 1).cast("long").as("sub"),
          col("v").as("cvec")), eager = true)
    for (_ <- 0 until SemSplitIters) {
      val prev = cent
      val next = assignTo(cent)
        .select(col("pair_key"), col("m.sub").as("sub"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pair_key"), col("sub"), col("pos"))
        .agg(Det.r4(
          sum(col("x").cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("cx"))
        .groupBy(col("pair_key"), col("sub"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cx")))),
          s => s.getField("cx")).as("cvec"))
      cent = Materialize.checkpoint(next.unionByName(
        cent.join(next.select("pair_key", "sub"), Seq("pair_key", "sub"),
          "left_anti")), eager = true)
      // the new generation is material (eager checkpoint) and carries
      // every surviving centroid forward — the superseded generation's
      // blocks can go now instead of waiting on the context cleaner
      Materialize.free(prev)
    }
    val asg = assignTo(cent)
      .select(col("vec_id"), col("m.sub").as("sub"))
    val out = members.join(asg, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell_id"), col("aff"),
        concat(col("pair_key"), lit("/"), col("sub")).as("pair_key"))
    // embD and the final centroid generation stay live until the CALLER
    // materializes this round's output — returned for freeing there
    (out, Seq(embD, cent))
  }

  /** Product quantization encode (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each dim-D vector
    * into m contiguous subvectors of D/m and code each as the
    * argmin-squared-L2 entry of that subspace's codebook — at k<=256
    * codes a 64-float vector becomes m bytes, the memory story that
    * lets a 100 TB corpus's ANN index live in RAM (the full vectors
    * stay in parquet for optional re-ranking).
    *
    * Scale shape: codebooks are m*k rows broadcast; encode is one
    * map-side pass (explode to m subvectors, broadcast-join, one
    * partial-aggregated argmin per (vec, sub)) — the corpus shuffles
    * once keyed by vec_id, carrying (sub, code) pairs, never raw
    * vectors. Determinism: distances r4-quantized before the argmin,
    * code tiebreak ascending.
    *
    * Expects emb(vec_id, embedding), codebooks(sub, code, cvec) with
    * cvec arrays of length D/m. Returns (vec_id, sub, code) — one row
    * per subspace, array-free for engine-portable comparison.
    *
    * Dimensional misconfiguration fails loudly, matching [[pqTrain]]:
    * the plan embeds raise_error guards (no extra jobs, every row
    * checked) for D % m != 0 and for a codebook whose cvec length
    * disagrees with D/m — without them a bad m silently drops the
    * trailing D - m*(D/m) dimensions and a mismatched codebook yields
    * null distances through zip_with padding.
    */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    pqCodeArrays(emb, codebooks, m)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))

  /** (vec_id, codes array<long>) — the encode as ONE map-side pass: the
    * whole codebook rides a single broadcast row and PqCodesExpr runs
    * all m*k quantized-L2 argmins per vector in a tight JVM loop. The
    * previous plan (explode to m subvector rows, broadcast-join m*k
    * codebook entries, min(struct(dq, code)) aggregation) paid a
    * SortAggregate — per-partition sort of n*m*k rows — plus an
    * Exchange, for an argmin that is a pure per-row function; at corpus
    * scale that was the encode's only shuffle and its dominant sort
    * (guide §2.4). Code choice is bit-identical (PqCodesExpr scaladoc).
    */
  private[operators] def pqCodeArrays(emb: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame = {
    val cb = codebooks.groupBy().agg(collect_list(struct(
      col("sub").cast("int").as("sub"), col("code").cast("long").as("code"),
      col("cvec"))).as("cb"))
    emb.crossJoin(broadcast(cb))
      .select(col("vec_id"), graft.expressions.PqExpressions.pqCodes(
        col("embedding"), col("cb"), m).as("codes"))
  }

  /** Per-subspace k-means codebook trainer — the offline producer of
    * [[pqEncode]]'s codebook frame: m independent [[kmeansTrain]] runs,
    * one per subvector slice, unioned as (sub, code, cvec). Like every
    * trainer here it is an offline artifact producer (persist via
    * Artifacts.savePqCodebooks); the one-row dimensionality probe is a
    * driver-bounded setup cost, not a per-row pattern.
    */
  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int): DataFrame = {
    val d = emb.select(size(col("embedding"))).first().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val sd = d / m
    (0 until m).map { sub =>
      kmeansTrain(emb.select(col("vec_id"),
        slice(col("embedding"), sub * sd + 1, sd).as("embedding")), k, iters)
        .select(lit(sub.toLong).as("sub"), col("cluster_id").as("code"),
          col("cvec"))
    }.reduce(_ unionByName _)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, build
    * the m*k distance table query-subvector-to-codebook-entry once,
    * then every corpus vector's approximate squared L2 is m table
    * lookups summed — no per-pair float math, which is the whole point
    * of PQ at scale.
    *
    * The per-query table rides as a broadcast map keyed sub*k+code, so
    * the codes-x-queries stage is map-only codegen (aggregate over the
    * m codes); nothing about the corpus is shuffled beyond the final
    * per-query top-k. Table entries are INTEGER-quantized (r4q) before
    * storage, so the m-term sum is exact integer arithmetic —
    * order-independent across engines and partitionings by
    * construction, like every round-8 similarity cut.
    *
    * Expects codes from [[pqEncode]] (vec_id, sub, code),
    * queries(q_id, q_emb), codebooks(sub, code, cvec). Returns
    * (q_id, vec_id, dist, rn) with dist the integer-quantized ADC
    * distance, rn ascending.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
      m: Int, k: Int, topK: Int): DataFrame =
    adcTopK(pqVecCodes(codes, m).crossJoin(
      broadcast(pqDistanceTables(queries, codebooks, m, k))), m, k, topK)

  /** [[pqTopK]] straight from the embeddings: encodes each vector's m
    * codes map-side ([[pqCodeArrays]]) and scores them in the same scan
    * stage — for the encode-then-search composition this skips
    * [[pqEncode]]'s posexplode to m rows and [[pqVecCodes]]'
    * re-collection of those rows into an array (an exchange of
    * |corpus| x m rows that existed only to undo the explode). Results
    * are identical to pqTopK(pqEncode(emb, ...), ...) by construction —
    * same code arrays, same distance tables, same ranking.
    */
  def pqTopKFromEmb(emb: DataFrame, queries: DataFrame,
      codebooks: DataFrame, m: Int, k: Int, topK: Int): DataFrame =
    adcTopK(pqCodeArrays(emb, codebooks, m)
      .where(col("codes").isNotNull)
      .crossJoin(broadcast(pqDistanceTables(queries, codebooks, m, k))),
      m, k, topK)

  /** IVF+PQ — the two scale stories composed, the shape a 100 TB ANN
    * index actually ships with: the IVF probe prunes which vectors are
    * scored (cells from [[assignCells]], probes from the broadcast
    * centroid ranking), PQ's ADC prunes what scoring costs (codes from
    * [[pqEncode]], m integer lookups per candidate). Per query the
    * work is |probed cells' vectors| * m lookups; nothing corpus-wide
    * moves except the once-amortized assignment and encode passes.
    * Expects cells(vec_id, cell_id, ...), codes(vec_id, sub, code),
    * queries(q_id, q_emb), centroids(cell_id, cell_emb),
    * codebooks(sub, code, cvec). Returns (q_id, vec_id, dist, rn).
    */
  def ivfPqTopK(cells: DataFrame, codes: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, m: Int, k: Int,
      topK: Int, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("aff").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("cell_id"),
        cosineScore(col("q_emb"), col("cell_emb")).as("aff"))
      .withColumn("prn", row_number().over(probeW))
      .where(col("prn") <= nprobe)
      .select(col("q_id"), col("cell_id"))
      .join(pqDistanceTables(queries, codebooks, m, k), "q_id")
    val candidates = pqVecCodes(codes, m)
      .join(cells.select(col("vec_id"), col("cell_id")), "vec_id")
      .join(broadcast(probes), "cell_id")
    adcTopK(candidates, m, k, topK)
  }

  /** Exact re-rank of an approximate candidate list — the precision
    * tail of the PQ/IVF recall stages: candidates(q_id, vec_id) from
    * [[pqTopK]]/[[ivfPqTopK]] (run with a larger topK) join their raw
    * vectors back from parquet, score one exact quantized cosine per
    * surviving pair, and re-rank. Cost is |candidates| exact scores —
    * the approximate stage already did the corpus-scale pruning, so
    * this is the only stage that touches raw vectors per query and it
    * touches O(q x topK) of them, never the corpus.
    * Returns (q_id, vec_id, score, rn) like [[bruteForceTopK]].
    */
  def rerankTopK(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      candidates.select(col("q_id"), col("vec_id"))
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(queries), "q_id")
        .select(col("q_id"), col("vec_id"),
          cosineScore(col("q_emb"), col("embedding")).as("score")),
      k)

  // Plan-embedded guard: the array passes through unchanged when its
  // length divides by m, else the row raises — CaseWhen coerces the
  // raise_error NullType branch to the array type, so the guard costs
  // no job and no cast.
  private def guardDivisible(arr: Column, m: Int, op: String): Column =
    when(size(arr) % m === 0, arr).otherwise(raise_error(concat(
      lit(s"$op: embedding dim "), size(arr).cast("string"),
      lit(s" not divisible by m=$m"))))

  // Plan-embedded guard: codebook subvector must match the sliced
  // query/corpus subvector length, else zip_with would pad with nulls
  // and the distance would silently go null.
  private def guardSubLength(cvec: Column, sv: Column, op: String): Column =
    when(size(cvec) === size(sv), cvec).otherwise(raise_error(concat(
      lit(s"$op: codebook subvector length "), size(cvec).cast("string"),
      lit(" != expected "), size(sv).cast("string"))))

  // Per-query ADC distance tables as POSITION-INDEXED arrays: entry
  // sub*k+code holds the quantized subdistance, so scoring is an O(1)
  // array index per sub. The previous map<int,long> form probed an
  // ArrayBasedMapData per lookup — a LINEAR scan of all m*k entries per
  // element_at, run m times per scored candidate row, the hottest row
  // count of the PQ path (guide §4). Values are the identical r4q
  // longs; the size guard fails loudly on a codebook that doesn't
  // cover the full (sub, code) grid instead of silently mis-indexing.
  private def pqDistanceTables(queries: DataFrame, codebooks: DataFrame,
      m: Int, k: Int): DataFrame = {
    val sd = size(col("q_emb")) / m
    val dtable = transform(
      array_sort(collect_list(struct(col("key"), col("d")))),
      e => e.getField("d"))
    queries
      .select(col("q_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        guardDivisible(col("q_emb"), m, "pqDistanceTables").as("q_emb"))
      .select(col("q_id"), col("sub"),
        slice(col("q_emb"), col("sub") * sd + 1, sd).as("qv"))
      .join(broadcast(codebooks), "sub")
      .select(col("q_id"),
        (col("sub") * k + col("code")).cast("int").as("key"),
        Det.r4q(VectorFunctions.l2sq(col("qv"),
          guardSubLength(col("cvec"), col("qv"), "pqDistanceTables")))
          .cast("long").as("d"))
      .groupBy(col("q_id"))
      .agg(dtable.as("dtable"))
      .select(col("q_id"),
        when(size(col("dtable")) === m * k, col("dtable"))
          .otherwise(raise_error(concat(
            lit(s"pqDistanceTables: codebook grid has "),
            size(col("dtable")).cast("string"),
            lit(s" entries, expected ${m * k}")))).as("dtable"))
  }

  // One row per vector with its m codes as a position array (index =
  // sub): array_sort over the collected (sub, code) structs orders by
  // sub ascending; the size guard replaces the old ANSI missing-map-key
  // error for a vector whose code rows don't cover every sub.
  private def pqVecCodes(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code").cast("long")).as("codes"))
      .select(col("vec_id"),
        when(size(col("codes")) === m, col("codes"))
          .otherwise(raise_error(concat(
            lit("pqVecCodes: vector has "),
            size(col("codes")).cast("string"),
            lit(s" code rows, expected m=$m")))).as("codes"))

  // ADC scoring + per-query top-k over a (q_id, vec_id, codes, dtable)
  // candidate frame: m exact-integer O(1) array lookups summed in one
  // native loop (AdcSumExpr), rank ascending.
  private def adcTopK(candidates: DataFrame, m: Int, k: Int,
      topK: Int): DataFrame = {
    val scored = candidates
      .select(col("q_id"), col("vec_id"),
        graft.expressions.PqExpressions.adcSum(
          col("codes"), col("dtable"), k).as("dist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= topK)
      .select("q_id", "vec_id", "dist", "rn")
  }

  /** One Lloyd assignment step in ORACLE-DETERMINISTIC form: nearest
    * centroid by squared-L2 (the |v|² term dropped — constant per
    * vector, argmin-invariant), distance r4-quantized BEFORE the argmin
    * with cluster-id tiebreak, per-(cluster, dim) mean via exact decimal
    * sums. Returns (cluster_id, dim 1-based, n_members, c_next).
    *
    * Scale shape: centroids broadcast (k rows), assignment is one
    * map-side pass + one partial-aggregated min per vector, the update
    * is a combiner-friendly (cluster, dim)-keyed agg — the corpus
    * shuffles once per step, carrying (cluster_id, dim, component).
    * Expects centroids(cluster_id, cvec); emb(vec_id, embedding).
    */
  def kmeansStep(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col("cluster_id"), col("cvec"),
      VectorFunctions.dot(col("cvec"), col("cvec")).as("cn"))
    // Map-only argmin (the assignCells move): one broadcast row of
    // centroids, per-row array_min over (dq, cluster_id) structs —
    // array_min's struct ordering is the same interpreted ordering
    // min(struct(dq, cluster_id)) used, so the assignment is unchanged;
    // what disappears is the |corpus| x k scored-row blowup and the
    // struct-buffer SortAggregate + Exchange it needed (guide §2.4).
    val centsRow = cent.groupBy().agg(collect_list(
      struct(col("cluster_id"), col("cvec"), col("cn"))).as("cents"))
    emb.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"),
        array_min(transform(col("cents"), c => struct(
          Det.r4(lit(-2.0) *
            VectorFunctions.dot(col("embedding"), c.getField("cvec")) +
            c.getField("cn")).as("dq"),
          c.getField("cluster_id").as("cluster_id")))).as("m"))
      .where(col("m").isNotNull)
      .select(col("m.cluster_id").as("cluster_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cluster_id"), (col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        Det.r4(
          sum(col("x").cast("double").cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("c_next"))
  }

  /** Offline k-means trainer — the producer of [[ivfTopK]]'s centroid
    * frame (its scaladoc's "offline k-means" is now in the library, not
    * an exercise for the caller). Deterministic throughout: init =
    * the k lowest vec_ids (a fixture-friendly stand-in for k-means++;
    * callers with better priors pass their own via `init`), assignment
    * ties break on cluster id, and each iteration's centroids are
    * collected to the driver — k*dim doubles, the k-means state every
    * distributed trainer keeps driver-side — and re-broadcast, so the
    * lineage does not grow with iterations. An empty cluster keeps its
    * previous centroid (the standard Lloyd degeneracy guard).
    * Returns centroids(cluster_id, cvec: array<double>).
    */
  def kmeansTrain(emb: DataFrame, k: Int, iters: Int,
      init: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k, iters=$iters must be positive")
    val spark = emb.sparkSession
    import scala.jdk.CollectionConverters._
    val embD = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    var cent: DataFrame = init.getOrElse(
      embD.orderBy(col("vec_id")).limit(k)
        .withColumn("cluster_id",
          row_number().over(Window.orderBy(col("vec_id"))).cast("long") - 1)
        .select(col("cluster_id"), col("v").as("cvec")))
    for (_ <- 0 until iters) {
      // same map-only argmin rewrite as kmeansStep (raw d here — the
      // trainer never quantized its assignment distance)
      val cn = cent.select(col("cluster_id"), col("cvec"),
          VectorFunctions.dot(col("cvec"), col("cvec")).as("cn"))
        .groupBy().agg(collect_list(
          struct(col("cluster_id"), col("cvec"), col("cn"))).as("cents"))
      val next = embD.crossJoin(broadcast(cn))
        .select(col("vec_id"), col("v"),
          array_min(transform(col("cents"), c => struct(
            (lit(-2.0) * VectorFunctions.dot(col("v"), c.getField("cvec")) +
              c.getField("cn")).as("d"),
            c.getField("cluster_id").as("cluster_id")))).as("m"))
        .where(col("m").isNotNull)
        .select(col("m.cluster_id").as("cluster_id"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos")
        .agg((sum(col("x")) / count(lit(1))).as("cx"))
        .groupBy("cluster_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          s => s.getField("cx")).as("cvec"))
      // k rows to the driver: keeps lineage O(1) across iterations and
      // carries empty clusters' previous centroids forward
      val updated = next.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val prev = cent.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val rows = prev.map { case (cid, v) =>
        org.apache.spark.sql.Row(cid, updated.getOrElse(cid, v))
      }.toList.asJava
      cent = spark.createDataFrame(rows, cent.schema)
    }
    cent
  }
}
