package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import graft.operators.NearDup
import graft.queries.Det.sqlTokens

/** Deduplication and similarity-search queries — the training-data-pipeline
  * operators this engine adds beyond the reference's catalog.
  *
  * Scale design:
  *  - Exact dedup groups on a 128-bit digest (md5) instead of the full
  *    text, so the shuffle carries 16 bytes + ids per row, not documents.
  *  - Near-dup candidates come from an equi-join on shared 5-gram
  *    shingles (exact) or MinHash LSH band buckets (approximate) — both
  *    are shuffle joins on small keys; nothing ever does O(n²) pairwise
  *    comparison over the corpus.
  *  - ANN is brute-force top-k against a broadcast query set (the
  *    baseline), with an LSH-bucketed variant for the big-big case.
  */
object SimilarityQueries {

  private val Ngram = 5
  private val JaccardThreshold = 0.8
  // membership cuts compare INTEGER-quantized scores (Det.r4q) against
  // these integer thresholds — no double comparison at any cut
  private val JaccardThresholdQ = math.round(JaccardThreshold * 10000)
  private val CandidateJQ = 5000L // q_edit_distance's candidate cut (0.5)
  private val CosineThresholdQ = 3500L // q_embed_neardup_exact (0.35)
  // q_embed_neardup_auto: the PRODUCTION near-dup threshold (the auto
  // plan's recall algebra is sized at this cut) + the planted-clone
  // construction that keeps the query non-vacuous at it. The clone id
  // offset is odd and > every ScaleFixture replica/hot-cluster id.
  private val NearDupAutoThreshold = 0.95
  private val NearDupAutoThresholdQ = 9500L
  private[graft] val CloneStride = 50
  private[graft] val CloneIdOffset = 100000000001L
  // q_lsh_plan's sizing grid: (threshold_q, threshold) pairs carried as
  // exact integer/literal twins on both engines (no quantization of the
  // threshold itself anywhere), times two targetBucket settings to
  // exercise the initial-bits clamp at two operating points.
  private[graft] val LshPlanThresholds: Seq[(Int, Double)] =
    Seq(50 -> 0.50, 60 -> 0.60, 70 -> 0.70, 80 -> 0.80, 85 -> 0.85,
      90 -> 0.90, 95 -> 0.95, 98 -> 0.98)
  private[graft] val LshPlanBuckets: Seq[Long] = Seq(64L, 256L)
  private val QualityGateQ = 6000L // q_corpus_build's quality gate (0.6)

  /** Fixed-count caps for the validation cohorts below. Both are COUNTS,
    * not fractions: the selected set stops growing once the corpus passes
    * cap×stride ids, so the broadcasts and the all-pairs anchor stay
    * validation-sized at any corpus scale (a bare `vec_id % k` cohort
    * would be a fixed fraction and grow O(n) / O(n²)).
    */
  private[graft] val MaxExactCohort = 160
  private[graft] val MaxIvfCentroids = 64
  // Product quantization: 8 subspaces x 16 codes over the dim-64
  // fixture embeddings (production codebooks come from per-subspace
  // kmeansTrain; the fixture filter keeps the oracle SQL-expressible)
  private[graft] val PqM = 8
  private[graft] val PqCodes = 16

  /** Document-frequency cap on shingles entering the candidate self-join.
    * A shingle present in d documents contributes d·(d-1)/2 join rows — a
    * boilerplate shingle (license header, template sentence) in 10⁵ docs
    * is a 5·10⁹-row hot key at corpus scale while discriminating nothing.
    * The cap bounds CANDIDATE GENERATION only: j itself is always the
    * true Jaccard over the full shingle sets (array_intersect on the
    * joined-back sets — the identical verification the MinHash-LSH path
    * runs, so the two paths agree wherever both emit a pair). The shared
    * recall caveat: a pair whose shared shingles are ALL hotter than the
    * cap produces no candidate — for near-dup thresholds that requires a
    * document made almost entirely of boilerplate. On the fixture the max
    * observed DF is 4 at every SF, so results are identical to uncapped.
    * LshRecallSpec pins the LSH path's recall against this exact path.
    */
  private val MaxShingleDf = 50

  /** doc_id + distinct word-5-gram shingle set. */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordShingles(col("text"), Ngram)).as("sh"))

  /** (a, b, inter, na, nb, j) for candidate pairs sharing >= 1 shingle
    * with document frequency <= MaxShingleDf.
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // eager pin: the exploded-hash self-join below plans on the
    // shingle sets' measured size, not the explode-blind scan estimate
    val sets = Materialize.pin(shingleSets(s, dir), eager = true)
    // candidates on DF-capped 64-bit shingle hashes (NearDup's
    // shingleHashes / capDocFreq scaladocs: the collision argument)
    val cands = NearDup.bucketPairs(
      NearDup.capDocFreq(NearDup.shingleHashes(sets), MaxShingleDf),
      "doc_id", Seq("s"), None)
    // Verification joins the FULL sets back — true Jaccard, the exact
    // computation the MinHash-LSH path runs on its candidates — in its
    // own form because this query emits the integer counts. Sizes cast
    // to long: DuckDB's len() is 64-bit and the driver hash compares
    // representations, not just values.
    val result = cands
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("na", size(col("sha")).cast("long"))
      .withColumn("nb", size(col("shb")).cast("long"))
      // jq is the INTEGER-quantized jaccard for membership cuts; j (the
      // emitted score) is jq/10000 — the identical double Det.r4 yields
      .withColumn("jq", Det.r4q(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))))
      .withColumn("j", col("jq") / 10000)
      .drop("sha", "shb")
    Materialize.releaseAfterFirstUse(result, sets)
  }

  /** Verified STAR edges per shared-shingle bucket — the text-path twin
    * of [[graft.operators.Ann.nearDupStarEdges]] (VERDICT r17 item 6),
    * with the same exactness/refinement contract. Each shingle-hash
    * bucket contributes one candidate edge from every member to the
    * bucket's min-id member (O(c) per bucket) instead of
    * [[jaccardPairs]]'s C(c,2) candidates; each edge is then verified
    * with the SAME integer-quantized exact-Jaccard cut over the full
    * string shingle sets, so no false candidate survives.
    *
    * No document-frequency cap: the cap exists in [[jaccardPairs]] only
    * because an all-pairs bucket is quadratic in its size — a hot
    * boilerplate shingle is exactly the case this operator is LINEAR in,
    * so the star path keeps those buckets (strictly more candidate
    * coverage than the capped all-pairs form, at linear cost; the
    * embedding star makes the identical choice, Ann.scala).
    *
    * Shuffle shape at corpus scale: one explode to (doc_id, shingle-hash)
    * rows, ONE hash-partition + sort for the per-bucket window min (no
    * self-join at all), a distinct over <= total-shingle-occurrence
    * candidate edges, and a linear verify join-back. A c-member
    * boilerplate cluster sharing k shingles costs <= c·k candidate rows
    * pre-distinct and c-1 verified edges, vs near-C(cap,2) verified
    * pairs per shared shingle in the capped all-pairs form.
    *
    * Downstream contract (connectivity witness; refines, never
    * over-merges): [[graft.operators.NearDup.starEdges]].
    * [[jaccardPairs]]-based q_dedup_keepers remains the oracle anchor
    * where its output fits.
    */
  private[graft] def jaccardStarEdges(s: SparkSession, dir: String,
      minJQ: Long): DataFrame =
    jaccardStarEdgesFrom(Materialize.pin(shingleSets(s, dir), eager = true),
      minJQ)

  /** [[jaccardStarEdges]] over a caller-supplied (doc_id, sh) frame —
    * the spec-facing form. `sets` must already be materialized/pinned
    * if it is expensive (the public face pins shingleSets).
    */
  private[graft] def jaccardStarEdgesFrom(sets: DataFrame,
      minJQ: Long): DataFrame = {
    val cand = NearDup.starEdges(NearDup.shingleHashes(sets), "doc_id",
      Seq("s"))
    Materialize.releaseAfterFirstUse(NearDup.verify(cand, sets, "doc_id",
      "sh", HashFunctions.jaccard, minJQ, "j"), sets)
  }

  /** DuckDB twin of [[shingleSets]] over `from`: the SELECT of
    * (doc_id, carry..., sh), sh the distinct word-`n`-gram shingle list.
    */
  private[queries] def shingleSetsSql(n: Int, from: String,
      carry: String*): String = {
    val cols = ("doc_id" +: carry).mkString(", ")
    s"""SELECT $cols, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - ${n - 1}, 0)),
        i -> list_aggregate(toks[i:i+${n - 1}], 'string_agg', ' '))) AS sh
      FROM (SELECT $cols, $sqlTokens AS toks FROM $from)"""
  }

  /** The oracle's j column: r4 of the exact Jaccard from integer counts. */
  private val JaccardJSql =
    "floor(CAST(inter AS DOUBLE) / (na + nb - inter) * 10000 + 0.5)" +
      " / 10000 AS j"

  /** DuckDB twin of the Jaccard verify join-back: the `<p>scored` CTE
    * (integer intersection and set sizes for every `<p>cand` pair over
    * the `<p>docs` shingle sets), then the final SELECT of `cols`, cut
    * at the INTEGER-quantized jaccard >= minJQ — the Spark side's jq
    * cut, integers on both engines, no double comparison.
    */
  private def jaccardVerifySql(p: String, cols: String, minJQ: Long)
      : String =
    s"""${p}scored AS (
      SELECT a, b, len(list_intersect(da.sh, db.sh)) AS inter,
        len(da.sh) AS na, len(db.sh) AS nb
      FROM ${p}cand
      JOIN ${p}docs da ON a = da.doc_id
      JOIN ${p}docs db ON b = db.doc_id)
    SELECT $cols FROM ${p}scored
    WHERE ${Det.sqlR4q("CAST(inter AS DOUBLE) / (na + nb - inter)")} >= $minJQ"""

  /** DuckDB twin of [[jaccardStarEdges]]: string shingles (the fixture
    * is pinned hash-collision-free by every green jaccard compare, so
    * string buckets = hash buckets), window min per bucket, exact
    * verify at the same integer cut. Yields (a, b) pairs.
    */
  private def jaccardStarOracle(minJQ: Long): String =
    s"""WITH sdocs AS (${shingleSetsSql(Ngram, "documents")}),
    sstar AS (
      SELECT min(doc_id) OVER (PARTITION BY s) AS a, doc_id AS b
      FROM (SELECT doc_id, unnest(sh) AS s FROM sdocs)),
    scand AS (SELECT DISTINCT a, b FROM sstar WHERE a <> b),
    ${jaccardVerifySql("s", "a, b", minJQ)}"""

  /** DuckDB twin of q_ngram_jaccard's pairs at the integer cut minJQ
    * (minJ * 10000).
    */
  private def jaccardOracle(minJQ: Long): String =
    s"""WITH docs AS (${shingleSetsSql(Ngram, "documents")}),
    sh0 AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    sh AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0)
      WHERE df <= $MaxShingleDf),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id),
    ${jaccardVerifySql("", s"a, b, inter, na, nb, $JaccardJSql", minJQ)}"""

  /** Integer value of 12 hex digits of md5(s) starting at 1-based
    * `start`: 48 bits, exact in BIGINT (and in the double power()).
    */
  private def hexnum(start: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(0, 11),
       j -> CAST(instr('0123456789abcdef',
              substr(md5(s), $start + j, 1)) - 1 AS BIGINT)
            * CAST(power(16, 11 - j) AS BIGINT))) AS BIGINT)"""

  /** DuckDB twin of [[graft.operators.NearDup.components]] over the
    * (a, b) pair CTE `pairs`: the symmetrized `edges` CTE and the
    * recursive min-reachable-label closure `reach` over (<id>, lab). The
    * caller opens WITH RECURSIVE.
    */
  private def reachSql(pairs: String, id: String): String =
    s"""edges AS (SELECT a, b FROM $pairs
          UNION SELECT b AS a, a AS b FROM $pairs),
        reach($id, lab) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.$id)"""

  /** Each vertex's component label over [[reachSql]]'s closure. */
  private def componentOfSql(id: String, label: String): String =
    s"SELECT $id, min(lab) AS $label FROM reach GROUP BY $id"

  /** DuckDB twin of [[graft.operators.NearDup.keepers]]: the documents
    * minus every non-representative of a component of `pairs`.
    */
  private def keepersSql(pairs: String): String =
    s"""${reachSql(pairs, "doc_id")},
        comp AS (${componentOfSql("doc_id", "component_id")})
        SELECT doc_id FROM documents WHERE doc_id NOT IN (
          SELECT doc_id FROM comp WHERE doc_id <> component_id)"""

  /** MinHash-LSH near-dup pairs at a configurable banding (nPerms total
    * hashes over nBands bands of nPerms/nBands rows), candidates
    * verified with exact Jaccard at the same integer-quantized cut as
    * the exact path. Exposed (package-private) so LshRecallSpec can
    * measure recall of alternative bandings — notably the 32/8 ingest
    * config — against the exact path with the identical plan.
    */
  private[graft] def minhashLshPairs(s: SparkSession, dir: String,
      nPerms: Int, nBands: Int): DataFrame = {
    require(nBands > 0 && nPerms % nBands == 0,
      s"nPerms=$nPerms must be a positive multiple of nBands=$nBands")
    val sets = Materialize.pin(shingleSets(s, dir), eager = false)
    // Materialize the BANDED projection (not the signature): one
    // cached stage covers both self-join sides, which would
    // otherwise each recompute scan -> shingles -> k-hash signature
    // (native expressions evaluate per reference, no cross-plan
    // CSE). At cluster scale this stage would be a checkpoint /
    // parquet write instead of a cache.
    val sigs = sets.select(col("doc_id"),
      HashFunctions.minhashSignature(col("sh"), nPerms).as("sig"))
    // eager pin: the band self-join plans on the banded frame's
    // measured n×nBands size. Materializing banded also fills the sets
    // cache (its plan reads through it), so the verify join-backs below
    // plan on true sizes too.
    val banded = Materialize.pin(
      sigs.select(col("doc_id"),
        explode(HashFunctions.lshBands(col("sig"), nBands, nPerms / nBands))
          .as("bh"))
        .select(col("doc_id"), col("bh.band"), col("bh.h")), eager = true)
    val result = NearDup.verify(
      NearDup.bucketPairs(banded, "doc_id", Seq("band", "h"), None), sets,
      "doc_id", "sh", HashFunctions.jaccard, JaccardThresholdQ, "j")
    // both pinned stages release on the first action — repeated
    // library use must not accumulate executor storage
    Materialize.releaseAfterFirstUse(result, banded, sets)
  }

  /** [[minhashLshPairs]] with the banding sized by
    * [[graft.operators.Ann.lshPlanJaccard]] from the corpus's own doc
    * count — the text-path twin of Ann.nearDupPairsAuto. Returns the
    * plan alongside the frame so callers (AutoLshSpec) report the
    * scheme that actually ran. Ledger-certified end to end as
    * q_minhash_lsh_auto (DuckDB re-derives the plan from its own
    * count and re-runs the sketch at those dimensions); the fixed
    * 64-perm/16-band q_minhash_lsh stays alongside it (it measured
    * SUB-linear at mult=100 — Jaccard banding degrades gracefully
    * because background text pairs share almost no shingles). The
    * sizing algebra is additionally spec-pinned by AutoLshSpec's
    * Jaccard tests and cross-engine by q_lsh_plan_jaccard.
    */
  private[graft] def minhashLshPairsAuto(s: SparkSession, dir: String,
      targetRecall: Double = 0.999, targetBucket: Long = 256L,
      backgroundSim: Double = 0.1)
      : (graft.operators.Ann.LshPlan, DataFrame) = {
    val n = Tables.load(s, dir, "documents").count()
    val plan = graft.operators.Ann.lshPlanJaccard(math.max(1L, n),
      JaccardThreshold, targetRecall, targetBucket, backgroundSim)
    (plan, minhashLshPairs(s, dir, plan.bitsPerBand * plan.nBands,
      plan.nBands))
  }

  /** DuckDB twin of the FULL MinHash-LSH pipeline: per-shingle md5
    * double-hash family, k per-doc minima, modular band fold, band
    * self-join, exact-Jaccard verify — every step exact integer (or
    * r4q-quantized) arithmetic, matching MinHashSignature and
    * HashFunctions.lshBands value for value. Docs with empty shingle
    * sets diverge harmlessly: Spark bands their sentinel signatures
    * together, the oracle never hashes them — but both paths discard
    * such pairs at the j >= threshold cut (their Jaccard is 0).
    */
  private def minhashLshOracle(nPerms: Int, nBands: Int,
      seed: Long): String = {
    val r = nPerms / nBands
    val p = graft.expressions.MinHashSignature.P
    val m = HashFunctions.BandHashMult
    val vdefs = (0 until r)
      .map(j => s"max(CASE WHEN i % $r = $j THEN v END) AS v$j")
      .mkString(", ")
    val fold = (1 until r)
      .foldLeft("v0")((acc, i) => s"(($acc) * $m + v$i) % $p")
    s"""WITH docs AS (${shingleSetsSql(Ngram, "documents")}),
    shu AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    hs AS (
      SELECT doc_id,
        (${hexnum(1)} + $seed) % $p AS a,
        ${hexnum(13)} % ${p - 1} + 1 AS b
      FROM shu),
    sig AS (
      SELECT doc_id, ii.i AS i, min((a + ii.i * b) % $p) AS v
      FROM hs, (SELECT unnest(generate_series(0, ${nPerms - 1})) AS i) ii
      GROUP BY doc_id, ii.i),
    bnd0 AS (
      SELECT doc_id, i // $r AS band, $vdefs
      FROM sig GROUP BY doc_id, i // $r),
    bnd AS (SELECT doc_id, band, $fold AS bh FROM bnd0),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
    ${jaccardVerifySql("", s"a, b, $JaccardJSql", JaccardThresholdQ)}"""
  }

  /** [[minhashLshOracle]] with the banding SIZED FROM DUCKDB'S OWN
    * COUNT(*) — the text-path twin of q_embed_neardup_auto's oracle.
    * The plan CTEs are the q_lsh_plan_jaccard algebra specialized to
    * the production cell (threshold 0.8, targetBucket 256, recall
    * 0.999, background-sim log base ln(10)); LshPlanOracleSpec's
    * libm-margin tripwire covers exactly this cell at the documents
    * count of every committed scale point, so the two engines cannot
    * disagree on (rows, bands). The signature/band stages are the
    * static oracle's, made plan-dynamic:
    *  - the permutation index series is generated at its maximum
    *    (maxRows*maxBands - 1 = 1023) and filtered by the plan — the
    *    same engine-portable dodge of DuckDB's lateral-bound
    *    restriction the embed auto oracle uses;
    *  - the per-band fold, unrollable only for a compile-time
    *    rowsPerBand, becomes list_reduce over the band's minima in
    *    row order — the identical left fold (h·M + v) mod P,
    *    element for element, as HashFunctions.lshBands' reduceLeft.
    * docs is MATERIALIZED (the SimHash-oracle scale lesson: inlined
    * CTEs re-tokenize the corpus once per self-join side).
    */
  private def minhashLshAutoOracle(seed: Long): String = {
    val p = graft.expressions.MinHashSignature.P
    val m = HashFunctions.BandHashMult
    s"""WITH docs AS MATERIALIZED (${shingleSetsSql(Ngram, "documents")}),
    nn AS (SELECT count(*) AS n FROM documents),
    -- bandsFor(k) at t = $JaccardThreshold, recall target 0.999
    sized AS (
      SELECT CAST(ks.k AS INTEGER) AS k,
        CASE WHEN power($JaccardThreshold, ks.k) >= 1.0 THEN 1
          ELSE least(64, greatest(1, CAST(ceil(
            ln(1.0 - 0.999) / ln(1.0 - power($JaccardThreshold, ks.k)))
            AS INTEGER))) END AS bands
      FROM generate_series(2, 16) ks(k)),
    sized2 AS (
      SELECT *, 1.0 - power(1.0 - power($JaccardThreshold, k), bands)
        AS recall
      FROM sized),
    -- initial rows = clamp(ceil(ln(max(1, n/256))/ln(1/0.1)), 2..16)
    init AS (
      SELECT least(16, greatest(2, CAST(ceil(
        ln(greatest(1.0, CAST(nn.n AS DOUBLE) / 256.0))
        / ln(1.0 / 0.1)) AS INTEGER))) AS initk
      FROM nn),
    plan AS (
      SELECT s.k, s.bands FROM sized2 s
      WHERE s.k = coalesce(
        (SELECT max(x.k) FROM sized2 x, init i
         WHERE x.k <= i.initk AND x.recall >= 0.999),
        CAST(2 AS INTEGER))),
    perms AS (
      SELECT ii.i FROM generate_series(0, 1023) ii(i), plan pl
      WHERE ii.i < pl.k * pl.bands),
    shu AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    hs AS (
      SELECT doc_id,
        (${hexnum(1)} + $seed) % $p AS a,
        ${hexnum(13)} % ${p - 1} + 1 AS b
      FROM shu),
    sig AS (
      SELECT doc_id, perms.i AS i, min((a + perms.i * b) % $p) AS v
      FROM hs, perms GROUP BY doc_id, perms.i),
    sigb AS (
      SELECT g.doc_id, g.i // pl.k AS band, g.i % pl.k AS j, g.v
      FROM sig g, plan pl),
    bnd AS (
      SELECT doc_id, band,
        list_reduce(list(v ORDER BY j),
          (acc, x) -> (acc * $m + x) % $p) AS bh
      FROM sigb GROUP BY doc_id, band),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bnd x JOIN bnd y
        ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
    ${jaccardVerifySql("", s"a, b, $JaccardJSql", JaccardThresholdQ)}"""
  }

  /** DuckDB twin of the FULL SimHash pipeline: per-token 64-bit hash
    * from the first 16 md5 hex digits (bit j of the big-endian value =
    * bit (j mod 4) of hex digit (63-j)/4 + 1 — SimHashExpr's mapping),
    * per-doc sign-counter vote per bit, 16-bit pigeonhole blocks from
    * the bit vector (small positive ints, no signed-shift gymnastics),
    * block-collision candidates, exact Hamming verify. Token-less docs
    * get the all-zero signature on both engines (the CROSS JOIN over
    * documents keeps them; their sign counters are empty sums / NULL
    * coalesced to 0).
    *
    * Written single-node-SCALE-lean (it OOM'd a 95 GB DuckDB at ~sf10
    * in its naive form; this form finishes there in ~150 s):
    *  - sign counters via exact algebra c = 2*ones - n, where ones
    *    comes from per-hex-digit VALUE counts (16 rows per token, not
    *    64) unpacked bit-parallel: bit w of hex position p is signature
    *    bit j = 60 - 4p + w (the inverse of SimHashExpr's p=(63-j)/4,
    *    w=j mod 4 mapping).
    *  - the Hamming verify XORs the four 16-bit block ints
    *    (bit_count(xor(...)) — identical to comparing the 64 bit-vector
    *    entries) so the candidate join carries 4 smallints per side,
    *    never the 64-element list column.
    *  - signature-pipeline CTEs are MATERIALIZED: DuckDB inlines CTEs
    *    by default, so both sides of the candidate self-join (and the
    *    two verify probes) would otherwise recompute the whole corpus
    *    tokenization — the measured cause of the OOM above.
    */
  private def simhashOracle: String = {
    s"""WITH tb AS MATERIALIZED (
        SELECT doc_id, md5(tok) AS mh FROM
          (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents)),
      ntok AS (SELECT doc_id, count(*) AS n FROM tb GROUP BY 1),
      digc AS (
        SELECT doc_id, p.p AS pos,
          instr('0123456789abcdef', substr(mh, p.p + 1, 1)) - 1 AS dv,
          count(*) AS cnt
        FROM tb, (SELECT unnest(generate_series(0, 15)) AS p) p
        GROUP BY 1, 2, 3),
      bitones AS (
        SELECT doc_id, 60 - 4 * pos + b.b AS j,
          sum(CASE WHEN (dv // CAST(power(2, b.b) AS BIGINT)) % 2 = 1
            THEN cnt ELSE 0 END) AS ones
        FROM digc, (SELECT unnest(generate_series(0, 3)) AS b) b
        GROUP BY 1, 2),
      bits AS (
        SELECT d.doc_id, j.j AS j,
          coalesce(2 * bo.ones - nt.n, 0) AS c
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
        LEFT JOIN bitones bo ON bo.doc_id = d.doc_id AND bo.j = j.j
        LEFT JOIN ntok nt ON nt.doc_id = d.doc_id),
      sig AS MATERIALIZED (
        SELECT doc_id,
          list(CASE WHEN c > 0 THEN 1 ELSE 0 END ORDER BY j) AS bv
        FROM bits GROUP BY doc_id),
      blocks AS MATERIALIZED (
        SELECT doc_id, i.i AS blk,
          CAST(list_sum(list_transform(generate_series(1, 16),
            k -> bv[16 * i.i + k] * CAST(power(2, k - 1) AS BIGINT)))
            AS BIGINT) AS v
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS i) i),
      sigc AS MATERIALIZED (
        SELECT doc_id,
          max(CASE WHEN blk = 0 THEN v END) AS v0,
          max(CASE WHEN blk = 1 THEN v END) AS v1,
          max(CASE WHEN blk = 2 THEN v END) AS v2,
          max(CASE WHEN blk = 3 THEN v END) AS v3
        FROM blocks GROUP BY doc_id),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM blocks x JOIN blocks y
          ON x.blk = y.blk AND x.v = y.v AND x.doc_id < y.doc_id),
      scored AS (
        SELECT a, b, CAST(
            bit_count(xor(sa.v0, sb.v0)) + bit_count(xor(sa.v1, sb.v1)) +
            bit_count(xor(sa.v2, sb.v2)) + bit_count(xor(sa.v3, sb.v3))
            AS INTEGER) AS dist
        FROM cand
        JOIN sigc sa ON a = sa.doc_id
        JOIN sigc sb ON b = sb.doc_id)
      SELECT a, b, dist FROM scored WHERE dist <= 3"""
  }

  /** DuckDB double dot product with the same left-to-right fold order as
    * VectorFunctions.dot.
    */
  private def oracleDot(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""

  /** The clone-augmented embedding corpus shared by the auto near-dup
    * queries: every CloneStride-th vector re-emitted at id +
    * CloneIdOffset with its first component sign-flipped (exact on both
    * engines; construction rationale in the q_embed_neardup_auto
    * comment).
    */
  private def cloneAugmented(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val clones = base.where(col("vec_id") % CloneStride === 0)
      .select((col("vec_id") + CloneIdOffset).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
    base.unionByName(clones)
  }

  /** Shared DuckDB CTE block for the auto embedding-LSH queries: the
    * clone-augmented corpus (`aug`), the plan re-derived from DuckDB's
    * OWN count via the q_lsh_plan sizing algebra, the md5 plane family,
    * and the per-(vec_id, band) bucket hashes (`bands`). Callers append
    * their own candidate/verify/consolidation CTEs.
    */
  private def embedAutoBandsCtes: String =
    s"""aug AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + $CloneIdOffset AS vec_id,
            list_concat([-embedding[1]], embedding[2:64]) AS embedding
          FROM embeddings WHERE vec_id % $CloneStride = 0),
        nn AS (SELECT count(*) AS n FROM aug),
        pp AS (SELECT 1.0 - acos($NearDupAutoThreshold) / pi() AS p),
        sized AS (
          SELECT CAST(bs.bits AS INTEGER) AS bits,
            CASE WHEN power(pp.p, bs.bits) >= 1.0 THEN 1
              ELSE least(64, greatest(1, CAST(ceil(
                ln(1.0 - 0.999) / ln(1.0 - power(pp.p, bs.bits)))
                AS INTEGER))) END AS bands
          FROM pp, generate_series(6, 24) bs(bits)),
        sized2 AS (
          SELECT s.bits, s.bands,
            1.0 - power(1.0 - power(pp.p, s.bits), s.bands) AS recall
          FROM sized s, pp),
        init AS (
          SELECT least(24, greatest(6, CAST(ceil(
            ln(greatest(1.0, CAST(nn.n AS DOUBLE) / 256.0)) / ln(2.0))
            AS INTEGER))) AS initbits
          FROM nn),
        plan AS (
          SELECT s.bits, s.bands FROM sized2 s
          WHERE s.bits = coalesce(
            (SELECT max(x.bits) FROM sized2 x, init i
             WHERE x.bits <= i.initbits AND x.recall >= 0.999),
            CAST(6 AS INTEGER))),
        planesig AS (
          SELECT tb.band, ti.bit,
            md5('hp:42:' || tb.band || ':' || ti.bit || ':0') AS dg
          FROM plan, generate_series(0, 63) tb(band),
               generate_series(0, 23) ti(bit)
          WHERE tb.band < plan.bands AND ti.bit < plan.bits),
        proj AS (
          SELECT e.vec_id, p.band, p.bit,
            list_sum(list_transform(generate_series(1, 64), k ->
              CASE WHEN ((instr('0123456789abcdef',
                    substr(p.dg, CAST(1 + (k - 1) // 4 AS INTEGER), 1)) - 1)
                  >> CAST(3 - ((k - 1) % 4) AS INTEGER)) & 1 = 1
                THEN CAST(e.embedding[k] AS DOUBLE)
                ELSE -CAST(e.embedding[k] AS DOUBLE) END)) AS s
          FROM aug e CROSS JOIN planesig p),
        bands AS (
          SELECT vec_id, band,
            CAST(sum(CASE WHEN s >= 0
              THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
              ELSE 0 END) AS BIGINT) AS h
          FROM proj GROUP BY 1, 2)"""

  /** The quantized cosine-verify expression shared by the auto embedding
    * queries' oracles (candidate aliased c, endpoints joined as ex/ey).
    */
  private def embedVerifyScoreQ: String =
    Det.sqlR4q(s"""${oracleDot("ex.embedding", "ey.embedding")} /
              (sqrt(${oracleDot("ex.embedding", "ex.embedding")}) *
               sqrt(${oracleDot("ey.embedding", "ey.embedding")}))""")

  private def oracleL2sq(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
            (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"""

  // The Spark-side twin of the oracle's cb CTE: every-11th vector,
  // one codebook row per (sub, code) holding that vector's subvector.
  private def pqCodebooks(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sd = size(col("embedding")) / PqM
    emb.where(col("vec_id") % 11 === 0 && col("vec_id") < 11L * PqCodes)
      .select((col("vec_id") / 11).cast("long").as("code"), col("embedding"))
      .select(col("code"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("embedding"))
      .select(col("sub"), col("code"),
        slice(col("embedding"), col("sub") * sd + 1, sd).as("cvec"))
  }

  // Shared CTE text for the PQ fixture: codebooks from every-11th
  // vector's subvectors, per-(vec, sub) argmin codes — used by both
  // q_pq_encode and q_pq_topk.
  private def pqOracleCtes: String =
    s"""cb AS (
      SELECT s.sub AS sub, CAST(vec_id / 11 AS BIGINT) AS code,
        list_slice(embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS cvec
      FROM embeddings, (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) s
      WHERE vec_id % 11 = 0 AND vec_id < 11 * $PqCodes),
    sv AS (
      SELECT vec_id, s.sub AS sub,
        list_slice(embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
      FROM embeddings, (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) s),
    pqd AS (
      SELECT v.vec_id, v.sub, c.code,
        floor(${oracleL2sq("v.sv", "c.cvec")} * 10000 + 0.5) / 10000 AS dq
      FROM sv v JOIN cb c ON v.sub = c.sub),
    codes AS (
      SELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM (
        SELECT vec_id, sub, code,
          row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY dq, code) AS rn
        FROM pqd) t
      WHERE rn = 1)"""

  def defs: Map[String, QueryDef] = Map(
    // Exact dedup on a digest key: one shuffle of (16-byte key, id).
    // NULL text gets a PER-DOC sentinel digest: md5(NULL) is NULL and
    // GROUP BY treats NULLs as one group, so without the sentinel every
    // failed-extraction row in a slice would silently collapse into a
    // single "duplicate cluster" keeping one survivor. A document with
    // no content cannot be judged a copy of anything — it stays a
    // singleton here and is a quality-gate problem downstream
    // (NullRowsSpec pins this).
    "q_dedup_exact" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .groupBy(coalesce(md5(col("text").cast("binary")),
          concat(lit("null:"), col("doc_id"))).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies")),
      Some("SELECT coalesce(md5(text), 'null:' || doc_id) AS fp, " +
        "min(doc_id) AS keeper, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),
      bench = true),

    // Distinct-text census per source (dropDuplicates shape).
    "q_dedup_distinct" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .groupBy("source")
        .agg(countDistinct(col("text")).as("n_unique"),
          count(lit(1)).as("n_docs")),
      Some("SELECT source, count(DISTINCT text) AS n_unique, " +
        "count(*) AS n_docs FROM documents GROUP BY source")),

    // Exact n-gram Jaccard near-dup pairs via shared-shingle candidate
    // join — fully oracle-checked (integer intersection/union counts, so
    // the jaccard double is bit-identical on both engines; the threshold
    // cut compares the INTEGER-quantized jq on both, so the cut itself
    // has no representable-boundary case).
    "q_ngram_jaccard" -> QueryDef(
      (s, dir) => jaccardPairs(s, dir)
        .where(col("jq") >= JaccardThresholdQ)
        .select("a", "b", "inter", "na", "nb", "j"),
      Some(jaccardOracle(JaccardThresholdQ)),
      bench = true),

    // Character-level edit-distance verification on the shingle
    // CANDIDATE pairs (j >= 0.5 keeps the pair set tight): exact
    // Levenshtein plus the normalized similarity — the char-level
    // second opinion fuzzy-dedup pipelines run on token-level matches.
    // Scale contract: levenshtein is O(len_a x len_b) PER PAIR, so it
    // is strictly a post-candidate verifier (bounded by candidate
    // count, like the cosine verify on LSH candidates) — never a
    // corpus-wide scan. Both engines implement the identical
    // unit-cost DP, so the distance is oracled exactly.
    "q_edit_distance" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        jaccardPairs(s, dir).where(col("jq") >= CandidateJQ)
          .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), "a")
          .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
          .select(col("a"), col("b"), col("j"),
            levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
            Det.r4(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
              greatest(length(col("ta")), length(col("tb"))))
              .as("char_sim"))
      },
      Some(s"""WITH pairs AS (${jaccardOracle(CandidateJQ)})
        SELECT a, b, j,
          CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
          ${Det.sqlR4(
            "1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) / " +
            "greatest(len(da.text), len(db.text))")} AS char_sim
        FROM pairs
        JOIN documents da ON a = da.doc_id
        JOIN documents db ON b = db.doc_id""")),

    // Near-dup CONSOLIDATION: connected components over the exact-pair
    // graph — the step that turns matched pairs into a dedup decision
    // (component_id = min doc id of the duplicate cluster; keep one doc
    // per component). Iterative min-label propagation, each round one
    // join + one min-agg, O(cluster diameter) rounds; oracle is a
    // recursive CTE computing the same min-reachable-id fixpoint.
    "q_neardup_components" -> QueryDef(
      (s, dir) => NearDup.components(
        jaccardPairs(s, dir).where(col("jq") >= JaccardThresholdQ)),
      Some(s"""WITH RECURSIVE pairs AS (${jaccardOracle(JaccardThresholdQ)}),
        ${reachSql("pairs", "doc_id")}
        ${componentOfSql("doc_id", "component_id")}"""),
      // headliner since round 13 (full-catalog-radar top residual)
      bench = true),

    // The dedup DECISION artifact: the kept corpus after near-dup
    // consolidation — drop every document that is in a duplicate
    // cluster but is not its min-id representative. This is the query a
    // training-data pipeline actually materializes.
    "q_dedup_keepers" -> QueryDef(
      (s, dir) => NearDup.keepers(Tables.load(s, dir, "documents"),
          jaccardPairs(s, dir).where(col("jq") >= JaccardThresholdQ))
        .select(col("doc_id")),
      Some(s"""WITH RECURSIVE pairs AS (${jaccardOracle(JaccardThresholdQ)}),
        ${keepersSql("pairs")}""")),

    // The keeper artifact via STAR consolidation — q_dedup_keepers'
    // scale-safe form (the text twin of q_embed_keepers_auto): O(c)
    // verified edges per shingle bucket instead of near-C(cap,2)
    // verified pairs per shared shingle, no DF cap needed because the
    // path is linear in bucket size by construction. Exactness vs the
    // all-pairs form: equal keeper sets in the clique regime (duplicate
    // clusters), REFINES outside it — JaccardStarSpec pins both; the
    // all-pairs q_dedup_keepers stays the oracle anchor where its pair
    // set fits. The DuckDB oracle re-derives the star construction
    // (window min per string-shingle bucket, exact verify, component
    // fixpoint) — a full independent twin, not a rows-only check.
    "q_dedup_keepers_star" -> QueryDef(
      (s, dir) => NearDup.keepers(Tables.load(s, dir, "documents"),
          jaccardStarEdges(s, dir, JaccardThresholdQ))
        .select(col("doc_id")),
      Some(s"""WITH RECURSIVE spairs AS (
          ${jaccardStarOracle(JaccardThresholdQ)}),
        ${keepersSql("spairs")}""")),

    // END-TO-END corpus build — the whole pretraining materialization as
    // ONE verified plan: exact dedup (md5 keeper; also catches docs too
    // short to shingle) -> near-dup consolidation (connected components
    // over the jaccard pair graph, keep the min-id representative) ->
    // quality gate (>= 0.6 on the quantized score) -> overlapping token
    // chunks (32/24), one training sample per row. Every stage is
    // individually oracled elsewhere (q_dedup_exact, q_dedup_keepers,
    // q_quality, q_chunking); this query proves the COMPOSITION — the
    // artifact a user of the engine actually ships — stays byte-exact
    // against DuckDB running the same four stages. Scale shape is the
    // union of the stages' shapes: digest-keyed keeper shuffle,
    // DF-capped shingle equi-join + O(diameter) component rounds,
    // per-row quality scoring in the scan, map-only chunk explode.
    "q_corpus_build" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, dir, "documents")
        // Exact-dedup DECISION on a lightweight (doc_id, digest)
        // projection (guide §8: decide with small rows): the old form
        // ranked a window whose rows CARRIED text, shuffling the whole
        // corpus' bytes through the md5-keyed exchange just to pick
        // keeper ids. The dup-id set (doc_id != min doc_id of its
        // digest group — identical keep decision, doc_ids are unique
        // and non-null: the Tables contract, pinned by FixtureSchemaSpec)
        // anti-joins back on doc_id, the SAME key as the components
        // drop anti-join below: both filters share one partitioning
        // (broadcast anti joins when the dup/drop sets are small), and
        // the consumer stage — scan, two anti probes, quality gate,
        // chunk explode — is map-only.
        // per-doc sentinel for NULL text: q_dedup_exact's contract —
        // failed extractions are not copies of each other, they flow
        // to the quality gate (which rejects them) instead of being
        // silently absorbed as exact dups of one survivor
        val dupIds = docs
          .select(col("doc_id"),
            coalesce(md5(col("text").cast("binary")),
              concat(lit("null:"), col("doc_id"))).as("h"))
          .withColumn("mn", min("doc_id").over(Window.partitionBy("h")))
          .where(col("doc_id") =!= col("mn"))
          .select("doc_id")
        val drop = NearDup.dropped(
          jaccardPairs(s, dir).where(col("jq") >= JaccardThresholdQ))
        // one anti join against the UNION of the two small drop sets
        // (exact dups + component non-reps) instead of two chained anti
        // joins: anti(anti(D, A), B) = anti(D, A ∪ B), and the union
        // rides a single broadcast build
        val clean = docs.select(col("doc_id"), col("text"))
          .join(dupIds.unionByName(drop.select("doc_id")),
            Seq("doc_id"), "left_anti")
          .where(TextFunctions.qualityScoreQ(col("text")) >= QualityGateQ)
        val t = TextFunctions.tokens(col("text"))
        val lastIdx =
          floor((col("n") - 1).cast("double") / 24).cast("int")
        clean
          .select(col("doc_id"), t.as("toks"), size(t).as("n"))
          .where(col("n") > 0)
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), lastIdx)).as("i"))
          .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
            slice(col("toks"), col("i") * 24 + 1, lit(32)).as("chunk"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).cast("long").as("n_chunk_tokens"),
            element_at(col("chunk"), 1).as("head_token"))
      },
      Some {
        val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
          "it", "that", "for", "on", "with", "as", "was", "at", "by", "be",
          "this").map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH RECURSIVE pairs AS (${jaccardOracle(JaccardThresholdQ)}),
        ${reachSql("pairs", "doc_id")},
        dropids AS (
          SELECT doc_id FROM (${componentOfSql("doc_id", "component_id")})
          WHERE doc_id <> component_id),
        exact AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER
              (PARTITION BY coalesce(md5(text), 'null:' || doc_id)
               ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
        qm AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS nt,
          CAST(len(list_filter(tk, x -> list_contains($stop, lower(x)))) AS BIGINT) AS nstop,
          CAST(len(text) AS BIGINT) AS nchars,
          CAST(len(text) - len(regexp_replace(text,
            '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS npunct
          FROM (SELECT doc_id, text,
            $sqlTokens AS tk FROM exact) tq),
        qual AS (SELECT doc_id, CAST(floor((
          least(CAST(nt AS DOUBLE) / 50.0, 1.0) +
          least((CASE WHEN nt > 0 THEN CAST(nstop AS DOUBLE) / nt ELSE 0.0 END) * 4.0, 1.0) +
          greatest(1.0 - (CASE WHEN nchars > 0 THEN CAST(npunct AS DOUBLE) / nchars ELSE 0.0 END) * 5.0, 0.0)
        ) / 3.0 * 10000 + 0.5) AS BIGINT) AS quality_q FROM qm),
        clean AS (
          SELECT e.doc_id, e.text FROM exact e
          JOIN qual q ON e.doc_id = q.doc_id
          WHERE e.doc_id NOT IN (SELECT doc_id FROM dropids)
            AND q.quality_q >= $QualityGateQ),
        ct AS (SELECT doc_id,
            $sqlTokens AS toks
          FROM clean),
        cc AS (SELECT doc_id, toks,
            unnest(generate_series(0,
              CAST(floor((len(toks) - 1) / 24.0) AS INTEGER))) AS i
          FROM ct WHERE len(toks) > 0)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
          CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
          toks[i * 24 + 1] AS head_token
        FROM cc"""
      },
      bench = true),

    // Incremental corpus admission (Incremental.admit): the
    // daily-increment face of q_corpus_build. The doc_id % 3 split is a
    // SNAPSHOT fixture (yesterday's corpus vs today's crawl), not a
    // bounded-cohort claim — both sides are corpus-sized by the
    // operator's contract, and the cost driver is the delta side's
    // shingle probes. Greedy first-wins dedup (streaming-ingest
    // semantics), every decision fully DuckDB-oracled including the
    // reject-reason priority.
    "q_corpus_delta" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.Incremental.admit(
          docs.where(col("doc_id") % 3 =!= 0),
          docs.where(col("doc_id") % 3 === 0),
          Ngram, MaxShingleDf, JaccardThreshold)
      },
      Some(s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        dl AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        exact_exist AS (SELECT DISTINCT d.doc_id FROM dl d
          JOIN ex e ON md5(d.text) = md5(e.text)),
        exact_int AS (SELECT doc_id FROM (
            SELECT doc_id, min(doc_id) OVER
              (PARTITION BY coalesce(md5(text), 'null:' || doc_id)) AS mn
            FROM dl) t
          WHERE doc_id <> mn),
        allx AS (SELECT doc_id, TRUE AS oe, text FROM ex
          UNION ALL SELECT doc_id, FALSE AS oe, text FROM dl),
        docs2 AS (${shingleSetsSql(Ngram, "allx", "oe")}),
        sh0 AS (SELECT doc_id, oe, unnest(sh) AS s FROM docs2),
        shf AS (SELECT doc_id, oe, s FROM (
            SELECT doc_id, oe, s, count(*) OVER (PARTITION BY s) AS df
            FROM sh0) t
          WHERE df <= $MaxShingleDf),
        cand AS (SELECT DISTINCT x.doc_id AS d, y.doc_id AS o, y.oe
          FROM shf x JOIN shf y ON x.s = y.s AND NOT x.oe
            AND (y.oe OR y.doc_id < x.doc_id)),
        scored AS (SELECT c.d, c.oe,
            len(list_intersect(dd.sh, dy.sh)) AS inter,
            len(dd.sh) AS na, len(dy.sh) AS nb
          FROM cand c
          JOIN docs2 dd ON c.d = dd.doc_id
          JOIN docs2 dy ON c.o = dy.doc_id),
        near AS (SELECT d, oe FROM scored
          WHERE ${Det.sqlR4q("CAST(inter AS DOUBLE) / (na + nb - inter)")}
            >= $JaccardThresholdQ),
        near_exist AS (SELECT DISTINCT d AS doc_id FROM near WHERE oe),
        near_int AS (SELECT DISTINCT d AS doc_id FROM near WHERE NOT oe)
        SELECT doc_id, CASE
          WHEN doc_id IN (SELECT doc_id FROM exact_exist) THEN 'exact_dup_existing'
          WHEN doc_id IN (SELECT doc_id FROM exact_int) THEN 'exact_dup_internal'
          WHEN doc_id IN (SELECT doc_id FROM near_exist) THEN 'near_dup_existing'
          WHEN doc_id IN (SELECT doc_id FROM near_int) THEN 'near_dup_internal'
          ELSE 'accepted' END AS decision
        FROM dl"""),
      bench = true),

    // MinHash + LSH banding (64 perms, 16 bands x 4 rows), candidates
    // verified with exact Jaccard. The permutation family is md5-derived
    // double hashing mod 2^31-1 (MinHashSignature scaladoc) and the band
    // hash an exact modular fold, so the ENTIRE sketch pipeline —
    // per-shingle hashes, k minima, band buckets, candidate join, verify
    // cut — is recomputed digit-for-digit by the DuckDB oracle below:
    // hash-compared, not rows-only. Recall against q_ngram_jaccard at
    // j>=0.8 (theoretical 1 - (1-j^4)^16 > 0.999) stays pinned
    // EMPIRICALLY by LshRecallSpec (which also sweeps the cheaper
    // 32-perm/8-band ingest config).
    "q_minhash_lsh" -> QueryDef(
      (s, dir) => minhashLshPairs(s, dir, 64, 16),
      Some(minhashLshOracle(64, 16, 42L)),
      bench = true),

    // MinHash-LSH with the banding SIZED FROM THE CORPUS COUNT
    // (minhashLshPairsAuto / Ann.lshPlanJaccard) — the text-path twin
    // of q_embed_neardup_auto, closing the same certified-path gap
    // pre-emptively: the fixed 64x16 form above measured SUB-linear at
    // mult=100 (Jaccard banding degrades gracefully), so it stays in
    // the ledger, but the auto dial is what a boilerplate-heavy corpus
    // needs, and from this round the ledger certifies it end to end.
    // DuckDB recomputes (rows, bands) from ITS OWN count(*) via the
    // q_lsh_plan_jaccard algebra (the exact (t=0.8, tb=256) cell is
    // margin-tripwired by LshPlanOracleSpec at every committed scale
    // point), then re-runs the full sketch pipeline at those
    // dimensions with a plan-dynamic band fold (list_reduce = the
    // native reduceLeft, element for element). At the 500-doc fixture
    // the plan lands at 2 rows x 7 bands = 14 perms (vs the fixed 64)
    // and GROWS with n — log-n rows pin E[background candidates]
    // linear in n, the same regime Ann.lshPlan certifies for the
    // embedding path.
    "q_minhash_lsh_auto" -> QueryDef(
      (s, dir) => minhashLshPairsAuto(s, dir)._2,
      Some(minhashLshAutoOracle(42L)),
      bench = true),

    // SimHash near-dup: 64-bit signatures; pairs within Hamming distance 3
    // found by exact match on 4 16-bit sub-blocks (pigeonhole: distance <=3
    // leaves >=1 of 4 blocks identical) — LSH-style banding, no O(n^2).
    // FULLY ORACLED (round 11): the per-token bit source is the first 16
    // md5 hex digits (SimHashExpr scaladoc), so the oracle rebuilds every
    // signature bit, 16-bit block, candidate pair, and Hamming distance
    // below — hash-compared end to end, closing the last sketch in the
    // near-dup family (MinHash landed round 10 with the same recipe).
    "q_simhash" -> QueryDef(
      (s, dir) => {
        val sigs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            HashFunctions.simhash64(TextFunctions.tokens(col("text"))).as("sig"))
        // the pin sits on BLOCKS, not sigs: blocks is the frame both
        // self-join sides reuse (caching sigs still recomputed the 4-way
        // explode per side), and the eager pin makes the block
        // self-join plan on its measured 4n size (the explode-blind
        // estimate planned BuildRight at mult=300, ~500 MB)
        val blocks = Materialize.pin(
          sigs.select(col("doc_id"), col("sig"),
            explode(array((0 until 4).map(i =>
              struct(lit(i).as("blk"),
                shiftrightunsigned(col("sig"), i * 16)
                  .bitwiseAND(0xFFFFL).as("v"))): _*)).as("b"))
            .select(col("doc_id"), col("sig"), col("b.blk"), col("b.v")),
          eager = true)
        val result = blocks.as("x").join(blocks.as("y"),
            col("x.blk") === col("y.blk") && col("x.v") === col("y.v") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            HashFunctions.hamming64(col("x.sig"), col("y.sig")).as("dist"))
          .distinct()
          .where(col("dist") <= 3)
        Materialize.releaseAfterFirstUse(result, blocks)
      },
      Some(simhashOracle)),

    // Brute-force cosine top-10 ANN for 8 query vectors against the whole
    // corpus: broadcast the tiny query side; scores rounded to 4 decimals
    // BEFORE ranking (with vec_id tiebreak) so the top-k cut is stable
    // across engines and partitionings.
    "q_ann_cosine" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val scored = emb.crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            Det.r4(VectorFunctions.cosine(col("q_emb"), col("embedding")))
              .as("score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 10)
          .select("q_id", "vec_id", "score", "rn")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < 8),
        scored AS (
          SELECT q.q_id, e.vec_id,
            floor(${oracleDot("q.q_emb", "e.embedding")} /
              (sqrt(${oracleDot("q.q_emb", "q.q_emb")}) *
               sqrt(${oracleDot("e.embedding", "e.embedding")})) * 10000 + 0.5) / 10000 AS score
          FROM q, embeddings e)
        SELECT q_id, vec_id, score, rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 10"""),
      bench = true),

    // IVF ANN — the scale path: corpus coarse-quantized into cells around
    // a deterministic FIXED-COUNT centroid sample (every 37th id, capped
    // at MaxIvfCentroids cells — the cap makes the centroid broadcast and
    // the per-vector argmax bounded at any corpus size, unlike a bare
    // modulus whose centroid count grows with the corpus). The fixture
    // literal is validation plumbing only: the production contract is
    // Ann.ivfTopK's caller-supplied centroid frame (offline k-means,
    // ~sqrt(n) cells). FULLY ORACLED (round 8): because the fixture
    // centroids are a plain corpus filter, the whole pipeline —
    // quantized-cosine cell argmax (aff desc, cell_id tiebreak), the
    // per-query nprobe probe ranking, and the in-cell exact top-k —
    // is expressible as three windowed subqueries; the r4 quantization
    // before every ranking makes the cut identical cross-engine.
    // AnnSpec additionally pins recall against brute force.
    "q_ann_ivf" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") % 37 === 0 &&
            col("vec_id") < 37L * MaxIvfCentroids)
          .select((col("vec_id") / 37).cast("long").as("cell_id"),
            col("embedding").as("cell_emb"))
        // 64 queries: enough for cell assignment (a one-off, reusable
        // corpus pass) to amortize — the regime IVF exists for
        val queries = emb.where(col("vec_id") < 64)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        graft.operators.Ann.ivfTopK(emb, queries, centroids, 10, 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""floor(${oracleDot(a, b)} /
            (sqrt(${oracleDot(a, a)}) * sqrt(${oracleDot(b, b)}))
            * 10000 + 0.5) / 10000"""
        s"""WITH cents AS (
          SELECT CAST(vec_id / 37 AS BIGINT) AS cell_id,
            embedding AS cell_emb
          FROM embeddings
          WHERE vec_id % 37 = 0 AND vec_id < 37 * $MaxIvfCentroids),
        assign AS (
          SELECT vec_id, embedding, cell_id FROM (
            SELECT e.vec_id, e.embedding, c.cell_id,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cos("e.embedding", "c.cell_emb")} DESC,
                  c.cell_id) AS arn
            FROM embeddings e, cents c) t
          WHERE arn = 1),
        q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < 64),
        probes AS (
          SELECT q_id, q_emb, cell_id FROM (
            SELECT q.q_id, q.q_emb, c.cell_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY ${cos("q.q_emb", "c.cell_emb")} DESC,
                  c.cell_id) AS prn
            FROM q, cents c) t
          WHERE prn <= 4),
        scored AS (
          SELECT p.q_id, a.vec_id,
            ${cos("p.q_emb", "a.embedding")} AS score
          FROM probes p JOIN assign a USING (cell_id))
        SELECT q_id, vec_id, score, rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 10"""
      },
      bench = true),

    // Per-label centroid (elementwise mean): posexplode + exact decimal
    // sums so the means are order-independent.
    "q_embed_centroid" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(Det.r4(
          sum(col("v").cast("double").cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("mean_v")),
      Some("""SELECT label, generate_subscripts(embedding, 1) AS pos,
          unnest(embedding) AS v
        FROM embeddings""").map(inner =>
        s"""SELECT label, pos,
          floor(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
            / count(*) * 10000 + 0.5) / 10000 AS mean_v
          FROM ($inner) t GROUP BY label, pos""")),

    // One Lloyd k-means step (Ann.kmeansStep) over the IVF fixture
    // centroids — the oracled anchor for the offline trainer
    // (Ann.kmeansTrain) that produces ivfTopK's centroid frame: nearest
    // centroid by squared-L2 with the r4-quantized distance and
    // cluster-id tiebreak, then per-(cluster, dim) means via exact
    // decimal sums (order-independent, like q_embed_centroid). The
    // corpus shuffles ONCE, carrying (cluster, dim, component); the
    // centroid side is a <=MaxIvfCentroids-row broadcast at any corpus
    // size. KMeansSpec pins the trainer's Lloyd properties (monotone
    // SSE, determinism, empty-cluster carryover) on top of this anchor.
    "q_kmeans_step" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") % 37 === 0 &&
            col("vec_id") < 37L * MaxIvfCentroids)
          .select((col("vec_id") / 37).cast("long").as("cluster_id"),
            col("embedding").as("cvec"))
        graft.operators.Ann.kmeansStep(emb, centroids)
      },
      Some(s"""WITH cent AS (SELECT CAST(vec_id / 37 AS BIGINT) AS cluster_id,
            embedding AS cvec
          FROM embeddings WHERE vec_id % 37 = 0 AND vec_id < 37 * 64),
        cn AS (SELECT cluster_id, cvec,
            ${oracleDot("cvec", "cvec")} AS cn FROM cent),
        d AS (SELECT e.vec_id, e.embedding, c.cluster_id,
            floor((-2.0 * ${oracleDot("e.embedding", "c.cvec")} + c.cn)
              * 10000 + 0.5) / 10000 AS dq
          FROM embeddings e, cn c),
        a AS (SELECT vec_id, embedding,
            min(struct_pack(dq := dq, cluster_id := cluster_id)) AS m
          FROM d GROUP BY vec_id, embedding),
        u AS (SELECT m.cluster_id AS cluster_id,
            CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
            unnest(embedding) AS x
          FROM a)
        SELECT cluster_id, dim, count(*) AS n_members,
          floor(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
            / count(*) * 10000 + 0.5) / 10000 AS c_next
        FROM u GROUP BY 1, 2""")),

    // Semantic dedup (SemDeDup, arXiv:2303.09540): cluster around the
    // deterministic fixture centroids (the q_ann_ivf filter — production
    // callers pass kmeansTrain/Artifacts centroids), then prune within
    // cells — of every same-cell pair with quantized cosine >= 0.35 the
    // member MORE similar to its centroid is dropped (the paper keeps
    // the diverse one; ties drop the higher id). The pairwise rule is
    // scan-order-free, so the whole operator — assignment argmax,
    // intra-cell pair cut, drop choice — is expressible in SQL and
    // fully hash-compared. The 0.35 cut (vs the paper's ~0.95) keeps
    // the fixture evidence non-vacuous: this corpus has no true
    // semantic dups (max pairwise cosine ~0.51); SemDedupSpec pins the
    // planted-duplicate behavior at realistic thresholds.
    "q_semdedup" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") % 37 === 0 &&
            col("vec_id") < 37L * MaxIvfCentroids)
          .select((col("vec_id") / 37).cast("long").as("cell_id"),
            col("embedding").as("cell_emb"))
        graft.operators.Ann.semDedup(emb, centroids, thresholdQ = 3500L)
      },
      Some {
        def cos(a: String, b: String) =
          s"""floor(${oracleDot(a, b)} /
            (sqrt(${oracleDot(a, a)}) * sqrt(${oracleDot(b, b)}))
            * 10000 + 0.5) / 10000"""
        s"""WITH cents AS (
          SELECT CAST(vec_id / 37 AS BIGINT) AS cell_id,
            embedding AS cell_emb
          FROM embeddings
          WHERE vec_id % 37 = 0 AND vec_id < 37 * $MaxIvfCentroids),
        assign AS (
          SELECT vec_id, embedding, cell_id, aff FROM (
            SELECT e.vec_id, e.embedding, c.cell_id,
              ${cos("e.embedding", "c.cell_emb")} AS aff,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cos("e.embedding", "c.cell_emb")} DESC,
                  c.cell_id) AS arn
            FROM embeddings e, cents c) t
          WHERE arn = 1),
        dropped AS (
          SELECT DISTINCT CASE WHEN x.aff > y.aff
              THEN x.vec_id ELSE y.vec_id END AS vec_id
          FROM assign x JOIN assign y
            ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
          WHERE floor(${oracleDot("x.embedding", "y.embedding")} /
            (sqrt(${oracleDot("x.embedding", "x.embedding")}) *
             sqrt(${oracleDot("y.embedding", "y.embedding")}))
            * 10000 + 0.5) >= 3500)
        SELECT a.vec_id, a.cell_id,
          CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
            AS dropped
        FROM assign a LEFT JOIN dropped d USING (vec_id)"""
      },
      bench = true),

    // Product-quantization encode (Ann.pqEncode, Jégou et al. 2011):
    // 8 subspaces x 16 codes — each dim-64 vector becomes 8 small ints,
    // the RAM-resident index form for 100 TB ANN. Codebooks here are
    // the every-11th fixture vectors' subvectors (production: one
    // kmeansTrain per subspace feeding the same frame), which keeps the
    // whole argmin-coding pipeline SQL-expressible and hash-compared.
    "q_pq_encode" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        graft.operators.Ann.pqEncode(emb, pqCodebooks(emb), PqM)
      },
      Some(s"""WITH $pqOracleCtes
        SELECT vec_id, sub, code FROM codes"""),
      bench = true),

    // ADC top-10 over the PQ codes: per query one m*k distance table
    // (INTEGER-quantized entries, so the m-term sum is exact integer
    // arithmetic), per corpus vector m map lookups — no per-pair float
    // math. AnnSpec pins the approximation against brute force on
    // planted clusters; this query pins the arithmetic cross-engine.
    "q_pq_topk" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cb = pqCodebooks(emb)
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        // encode-and-score in one scan stage (pqTopKFromEmb): identical
        // output to pqTopK(pqEncode(...)) — the oracle recomputes the
        // full encode+ADC chain — without the explode-to-m-rows +
        // re-collect exchange between them
        graft.operators.Ann.pqTopKFromEmb(emb, q, cb, PqM, PqCodes, 10)
      },
      Some(s"""WITH $pqOracleCtes,
        q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < 8),
        dt AS (
          SELECT q.q_id, c.sub, c.code,
            CAST(floor(${oracleL2sq(
              "list_slice(q.q_emb, c.sub * 8 + 1, c.sub * 8 + 8)",
              "c.cvec")} * 10000 + 0.5) AS BIGINT) AS dd
          FROM q, cb c),
        scored AS (
          SELECT dt.q_id, codes.vec_id,
            CAST(sum(dt.dd) AS BIGINT) AS dist
          FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
          GROUP BY dt.q_id, codes.vec_id)
        SELECT q_id, vec_id, dist, rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY dist, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 10"""),
      bench = true),

    // PQ + exact re-rank (Ann.rerankTopK) — the full production
    // retrieval chain: ADC top-20 recalls candidates from the compact
    // code index, then ONE exact quantized cosine per surviving
    // (query, candidate) pair re-ranks to the final top-5. The raw
    // vectors are touched O(q x 20) times, never corpus-wide — the
    // precision tail rides the approximate stage's pruning. Every
    // stage (codes, integer ADC sum, candidate cut, exact cosine,
    // final rank) is recomputed by the oracle: hash-compared end to
    // end.
    "q_pq_rerank" -> QueryDef(
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cb = pqCodebooks(emb)
        val q = emb.where(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cand = graft.operators.Ann.pqTopKFromEmb(
          emb, q, cb, PqM, PqCodes, 20)
        graft.operators.Ann.rerankTopK(cand, emb, q, 5)
      },
      Some(s"""WITH $pqOracleCtes,
        q AS (SELECT vec_id AS q_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < 8),
        dt AS (
          SELECT q.q_id, c.sub, c.code,
            CAST(floor(${oracleL2sq(
              "list_slice(q.q_emb, c.sub * 8 + 1, c.sub * 8 + 8)",
              "c.cvec")} * 10000 + 0.5) AS BIGINT) AS dd
          FROM q, cb c),
        adc AS (
          SELECT dt.q_id, codes.vec_id,
            CAST(sum(dt.dd) AS BIGINT) AS dist
          FROM codes JOIN dt ON codes.sub = dt.sub AND codes.code = dt.code
          GROUP BY dt.q_id, codes.vec_id),
        cand AS (
          SELECT q_id, vec_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY dist, vec_id) AS rn
            FROM adc) t
          WHERE rn <= 20),
        rr AS (
          SELECT c.q_id, c.vec_id,
            floor(${oracleDot("q.q_emb", "e.embedding")} /
              (sqrt(${oracleDot("q.q_emb", "q.q_emb")}) *
               sqrt(${oracleDot("e.embedding", "e.embedding")}))
              * 10000 + 0.5) / 10000 AS score
          FROM cand c
          JOIN embeddings e ON c.vec_id = e.vec_id
          JOIN q ON c.q_id = q.q_id)
        SELECT q_id, vec_id, score, rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
          FROM rr) t
        WHERE rn <= 5"""),
      bench = true),

    // Cross-engine pin of Ann.lshPlan ITSELF — the auto-LSH sizing math
    // (bits from log2(n/targetBucket) clamped 6..24, bands from the
    // banding recall formula capped at 64, step-down when the cap binds)
    // recomputed independently by DuckDB from the same corpus counts.
    // The pair-mining outputs of the auto scheme are pinned by
    // AutoLshSpec (planted duplicates) and measured in SCALE.md
    // ("Auto-sized LSH"); this query puts the SIZING DECISION in the
    // hash-compared ledger so a drift in the plan math (the thing every
    // auto-sized dedup run depends on) fails the gate, not just a spec.
    //
    // FP-boundary note: every ceil/compare/quantize in the plan sits
    // >= 4e-7 from its decision boundary over this grid x the fixture
    // corpus sizes at all committed scale points (LshPlanOracleSpec
    // re-verifies the margins, including for scaled fixture counts), vs
    // ~1e-12 worst-case cross-libm drift — so Java and DuckDB libm
    // cannot disagree on any emitted integer. The one exact-boundary
    // case, ln(1.0)=0 for n <= targetBucket, is exact in BOTH engines.
    "q_lsh_plan" -> QueryDef(
      (s, dir) => {
        val nEmb = Tables.load(s, dir, "embeddings").count()
        val nDoc = Tables.load(s, dir, "documents").count()
        val rows = for {
          (corpus, n) <- Seq(("documents", nDoc), ("embeddings", nEmb))
          tb <- LshPlanBuckets
          (tq, t) <- LshPlanThresholds
        } yield {
          // empty corpus plans like n=1 (SQL's greatest(1.0, n/tb) path
          // makes the two cases identical); the emitted n stays raw
          val pl = graft.operators.Ann.lshPlan(math.max(1L, n), t,
            targetBucket = tb)
          (corpus, n, tb, tq, pl.bitsPerBand, pl.nBands,
            math.floor(pl.expectedRecall * 10000 + 0.5).toLong)
        }
        import s.implicits._
        rows.toDF("corpus", "n", "target_bucket", "threshold_q", "bits",
          "bands", "recall_q")
      },
      Some(s"""WITH corpora(corpus, n) AS (
          SELECT 'documents', count(*) FROM documents
          UNION ALL SELECT 'embeddings', count(*) FROM embeddings),
        thr(tq, t) AS (VALUES ${LshPlanThresholds
            .map { case (tq, t) => s"($tq, $t)" }.mkString(", ")}),
        tbs(tb) AS (VALUES ${LshPlanBuckets
            .map(b => s"(CAST($b AS BIGINT))").mkString(", ")}),
        grid AS (
          SELECT c.corpus, c.n, tbs.tb, thr.tq, thr.t,
            1.0 - acos(thr.t) / pi() AS p
          FROM corpora c, tbs, thr),
        -- bandsFor(bits): B = min(64, max(1, ceil(ln(1-target)/ln(1-p^bits))))
        sized AS (
          SELECT g.*, CAST(bs.bits AS INTEGER) AS bits,
            CASE WHEN power(g.p, bs.bits) >= 1.0 THEN 1
              ELSE least(64, greatest(1, CAST(ceil(
                ln(1.0 - 0.999) / ln(1.0 - power(g.p, bs.bits)))
                AS INTEGER))) END AS bands
          FROM grid g, generate_series(6, 24) bs(bits)),
        sized2 AS (
          SELECT *, 1.0 - power(1.0 - power(p, bits), bands) AS recall
          FROM sized),
        -- initial bits = clamp(ceil(log2(max(1, n/tb))), 6..24)
        init AS (
          SELECT corpus, n, tb, tq,
            least(24, greatest(6, CAST(ceil(
              ln(greatest(1.0, CAST(n AS DOUBLE) / CAST(tb AS DOUBLE)))
              / ln(2.0)) AS INTEGER))) AS initbits
          FROM grid),
        -- the step-down loop: first bits from initbits downward whose
        -- recall meets the target IS the max qualifying bits <= initbits;
        -- if none qualifies the loop bottoms out at minBits = 6
        pick AS (
          SELECT i.corpus, i.n, i.tb, i.tq,
            coalesce((SELECT max(s.bits) FROM sized2 s
              WHERE s.corpus = i.corpus AND s.tb = i.tb AND s.tq = i.tq
                AND s.bits <= i.initbits AND s.recall >= 0.999),
              CAST(6 AS INTEGER)) AS bits
          FROM init i)
        SELECT p.corpus, p.n, p.tb AS target_bucket,
          CAST(p.tq AS INTEGER) AS threshold_q, s.bits,
          CAST(s.bands AS INTEGER) AS bands,
          CAST(floor(s.recall * 10000 + 0.5) AS BIGINT) AS recall_q
        FROM pick p JOIN sized2 s
          ON s.corpus = p.corpus AND s.tb = p.tb AND s.tq = p.tq
            AND s.bits = p.bits""")),

    // Cross-engine pin of Ann.lshPlanJaccard — the MinHash-banding
    // sibling of q_lsh_plan, same step-down algebra with two swaps:
    // the per-hash collision probability is the threshold itself
    // (p = t, not 1-acos(t)/pi) and the resolution dial is the
    // background-similarity log base (rows = ceil(ln(n/tb)/ln(1/0.1)),
    // clamped 2..16) instead of the 2^bits pigeonhole. DuckDB
    // recomputes rows/bands/quantized-recall from ITS OWN counts over
    // the same grid; LshPlanOracleSpec extends its libm-margin
    // tripwire to this form (1.0/0.1 rounds to exactly 10.0 in IEEE
    // double on both engines, so the log base is the same input value
    // everywhere).
    "q_lsh_plan_jaccard" -> QueryDef(
      (s, dir) => {
        val nEmb = Tables.load(s, dir, "embeddings").count()
        val nDoc = Tables.load(s, dir, "documents").count()
        val rows = for {
          (corpus, n) <- Seq(("documents", nDoc), ("embeddings", nEmb))
          tb <- LshPlanBuckets
          (tq, t) <- LshPlanThresholds
        } yield {
          val pl = graft.operators.Ann.lshPlanJaccard(math.max(1L, n), t,
            targetBucket = tb)
          (corpus, n, tb, tq, pl.bitsPerBand, pl.nBands,
            math.floor(pl.expectedRecall * 10000 + 0.5).toLong)
        }
        import s.implicits._
        rows.toDF("corpus", "n", "target_bucket", "threshold_q",
          "rows_per_band", "bands", "recall_q")
      },
      Some(s"""WITH corpora(corpus, n) AS (
          SELECT 'documents', count(*) FROM documents
          UNION ALL SELECT 'embeddings', count(*) FROM embeddings),
        thr(tq, t) AS (VALUES ${LshPlanThresholds
            .map { case (tq, t) => s"($tq, $t)" }.mkString(", ")}),
        tbs(tb) AS (VALUES ${LshPlanBuckets
            .map(b => s"(CAST($b AS BIGINT))").mkString(", ")}),
        grid AS (
          SELECT c.corpus, c.n, tbs.tb, thr.tq, thr.t
          FROM corpora c, tbs, thr),
        -- bandsFor(k): B = min(64, max(1, ceil(ln(1-target)/ln(1-t^k))))
        sized AS (
          SELECT g.*, CAST(ks.k AS INTEGER) AS k,
            CASE WHEN power(g.t, ks.k) >= 1.0 THEN 1
              ELSE least(64, greatest(1, CAST(ceil(
                ln(1.0 - 0.999) / ln(1.0 - power(g.t, ks.k)))
                AS INTEGER))) END AS bands
          FROM grid g, generate_series(2, 16) ks(k)),
        sized2 AS (
          SELECT *, 1.0 - power(1.0 - power(t, k), bands) AS recall
          FROM sized),
        -- initial rows = clamp(ceil(ln(max(1, n/tb))/ln(1/0.1)), 2..16)
        init AS (
          SELECT corpus, n, tb, tq,
            least(16, greatest(2, CAST(ceil(
              ln(greatest(1.0, CAST(n AS DOUBLE) / CAST(tb AS DOUBLE)))
              / ln(1.0 / 0.1)) AS INTEGER))) AS initk
          FROM grid),
        pick AS (
          SELECT i.corpus, i.n, i.tb, i.tq,
            coalesce((SELECT max(s.k) FROM sized2 s
              WHERE s.corpus = i.corpus AND s.tb = i.tb AND s.tq = i.tq
                AND s.k <= i.initk AND s.recall >= 0.999),
              CAST(2 AS INTEGER)) AS k
          FROM init i)
        SELECT p.corpus, p.n, p.tb AS target_bucket,
          CAST(p.tq AS INTEGER) AS threshold_q, s.k AS rows_per_band,
          CAST(s.bands AS INTEGER) AS bands,
          CAST(floor(s.recall * 10000 + 0.5) AS BIGINT) AS recall_q
        FROM pick p JOIN sized2 s
          ON s.corpus = p.corpus AND s.tb = p.tb AND s.tq = p.tq
            AND s.k = p.k""")),

    // Embedding near-dup with the band scheme SIZED FROM THE CORPUS
    // COUNT (Ann.nearDupPairsAuto / Ann.lshPlan) — the certified path is
    // the scale-safe path. The r13 form of this query pinned a FIXED
    // 16x8 scheme, whose candidate volume is Sum c²/2 ~ B·n²/2^bits —
    // quadratic in corpus size, measured 383.7x wall for 100x data —
    // while the auto-sized repair was only spec/bench-covered; that
    // fixed form is now demoted to specs (NearDupSpec, AutoLshSpec),
    // and the ledger certifies the plan-derived scheme end to end:
    // DuckDB independently recomputes bits/bands from ITS OWN count(*)
    // of the same corpus via the identical sizing algebra the oracled
    // q_lsh_plan pins (libm margins re-verified by LshPlanOracleSpec,
    // which covers the augmented counts below at every committed scale
    // point), then re-derives the md5 plane family at those dimensions.
    //
    // The corpus is AUGMENTED with planted near-duplicates: every
    // CloneStride-th vector is cloned (id + CloneIdOffset) with its
    // FIRST component negated — an exact sign flip on both engines, so
    // the clone pair's cosine 1 - 2·v0²/|v|² (~0.82..0.9999 on the
    // fixture) is bit-identical cross-engine. This keeps the evidence
    // non-vacuous at the PRODUCTION threshold 0.95 with the production
    // target recall (the fixture corpus itself has max pairwise cosine
    // ~0.51): some planted pairs pass the 0.95 cut and some fail it —
    // a live verification stage, deterministic both ways. Dim 0 is
    // never touched by ScaleFixture's replica sign masks ((i>>(r-1))&1
    // = 0 at i=0), so clones stay distinct from every replica and the
    // same construction holds at all committed scale points;
    // CloneIdOffset = 1e11+1 sits above every replica/hot-cluster id
    // range for any mult below 1000 AND off the r·1e8 replica-offset
    // lattice, so clone ids can never collide with replica ids. (The
    // first mult=300 run proved the constant load-bearing: the old
    // 2e10+1 put clone ids INSIDE replica r>=200's id range, the
    // vec_id join-backs went ambiguous, and the cross-engine compare
    // caught it as a one-directional pair superset.)
    //
    // Plane-matrix recipe (unchanged from r13, now at plan-sized dims):
    // component k of plane (band, bit) is bit k of
    // md5('hp:42:band:bit:0'), hex digit k/4, bits high-to-low; ±v[k]
    // is exact, list_sum sums in index order like the native loop; the
    // per-band bucket longs, bucket-equality candidates and r4q-cut
    // cosine verify are identical on both engines. The lateral-bound
    // restriction on DuckDB's generate_series means the plane grid is
    // generated at its maxima (64 bands x 24 bits) and filtered by the
    // plan CTE — same rows, engine-portable.
    "q_embed_neardup_auto" -> QueryDef(
      (s, dir) => graft.operators.Ann.nearDupPairsAuto(
        cloneAugmented(s, dir), dim = 64,
        threshold = NearDupAutoThreshold),
      Some(s"""WITH $embedAutoBandsCtes,
        cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.h = y.h AND x.vec_id < y.vec_id)
        SELECT a, b, score_q / 10000 AS score FROM (
          SELECT c.a, c.b, $embedVerifyScoreQ AS score_q
          FROM cand c
          JOIN aug ex ON ex.vec_id = c.a
          JOIN aug ey ON ey.vec_id = c.b) t
        WHERE score_q >= $NearDupAutoThresholdQ"""),
      bench = true),

    // Keeper-DIRECT embedding near-dup (Ann.nearDupKeepersAuto): the
    // scale-safe certified form for dense duplicate clusters. The
    // all-pairs query above owes C(c,2) output rows per c-member
    // duplicate cluster BY CONTRACT — at mult=1000 the clone fixture's
    // ~994-replica groups make that ~2.4e10 candidate rows / ~70 GB of
    // shuffle, the one query of the ledger that outgrows a single host
    // (SCALE.md seventh point) — while every downstream consumer
    // (components, corpus build) needs only the duplicate COMPONENTS.
    // This query star-links each LSH bucket to its min-id member (O(c)
    // candidate edges per bucket), verifies each edge with the same
    // quantized cosine cut, and consolidates with connected components:
    // (vec_id, keeper_id = min id of the duplicate component) for every
    // vector on a verified edge. Semantics note: star components equal
    // all-pairs components when each bucket's above-threshold relation
    // is a union of cliques containing the bucket min (duplicate
    // clusters; pinned by NearDupSpec against the all-pairs
    // consolidation on the fixtures) — the all-pairs form stays the
    // oracle anchor where its output fits. Oracle: DuckDB re-derives
    // plan + plane family + buckets (shared CTEs), the window-min star
    // link, the verify, and the min-reachable-id fixpoint (recursive
    // CTE, the q_neardup_components machinery).
    "q_embed_keepers_auto" -> QueryDef(
      (s, dir) => graft.operators.Ann.nearDupKeepersAuto(
        cloneAugmented(s, dir), dim = 64,
        threshold = NearDupAutoThreshold),
      Some(s"""WITH RECURSIVE $embedAutoBandsCtes,
        cand AS (
          SELECT DISTINCT m AS a, vec_id AS b FROM (
            SELECT vec_id, min(vec_id) OVER (PARTITION BY band, h) AS m
            FROM bands) st
          WHERE vec_id <> m),
        pairs AS (
          SELECT a, b FROM (
            SELECT c.a, c.b, $embedVerifyScoreQ AS score_q
            FROM cand c
            JOIN aug ex ON ex.vec_id = c.a
            JOIN aug ey ON ey.vec_id = c.b) t
          WHERE score_q >= $NearDupAutoThresholdQ),
        ${reachSql("pairs", "vec_id")}
        ${componentOfSql("vec_id", "keeper_id")}"""),
      bench = true),

    // Exact-cosine pair mining over a deterministic FIXED-COUNT cohort
    // (every 4th id, capped at MaxExactCohort vectors), fully
    // DuckDB-oracled — the hard cross-engine evidence for the SCORING
    // stage the LSH path above runs on its candidates (identical
    // Det.r4(cosine) expression, identical threshold semantics). The
    // count cap — not a bare fraction — is what bounds the all-pairs
    // join by construction: the broadcast side is <= MaxExactCohort rows
    // and the pair count <= MaxExactCohort²/8 at ANY corpus size (a
    // modulus alone would grow O(n²) with the corpus). At 100 TB you
    // never run uncapped all-pairs — candidate generation is the LSH
    // band join — but this capped exact pass stays cheap everywhere and
    // anchors the math the approximate path trusts.
    //
    // Threshold note: the cut compares the INTEGER-quantized score
    // (Det.r4q vs 3500) on BOTH engines — the cut itself is exact
    // integer arithmetic with no representable-boundary case. What
    // remains shared with every quantized output column (not specific
    // to the cut): the quantization of the raw cosine is the identical
    // IEEE op sequence on both engines, so a last-ulp divergence would
    // already fail the hash compare on emitted rows; Verify re-runs at
    // sf0.1 after any data or cohort change as the operational check.
    "q_embed_neardup_exact" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .where(col("vec_id") % 4 === 0 &&
            col("vec_id") < 4L * MaxExactCohort)
        val x = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
        val y = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
        x.crossJoin(broadcast(y))
          .where(col("a") < col("b"))
          .select(col("a"), col("b"),
            Det.r4q(VectorFunctions.cosine(col("ea"), col("eb")))
              .as("score_q"))
          .where(col("score_q") >= CosineThresholdQ)
          .select(col("a"), col("b"), (col("score_q") / 10000).as("score"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id % 4 = 0 AND vec_id < ${4L * MaxExactCohort})
        SELECT a, b, score_q / 10000 AS score FROM (
          SELECT x.vec_id AS a, y.vec_id AS b,
            ${Det.sqlR4q(s"""${oracleDot("x.embedding", "y.embedding")} /
              (sqrt(${oracleDot("x.embedding", "x.embedding")}) *
               sqrt(${oracleDot("y.embedding", "y.embedding")}))""")} AS score_q
          FROM e x JOIN e y ON x.vec_id < y.vec_id) t
        WHERE score_q >= $CosineThresholdQ""")))
}
