package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.TextFunctions
import graft.queries.Det

/** Incremental corpus admission: decide, for a DELTA of newly crawled
  * documents, which enter an already-built EXISTING corpus — without
  * reprocessing the existing corpus' pairs. The batch corpus build
  * (q_corpus_build) is the from-scratch path; this is the daily-increment
  * path, and its dedup semantics deliberately mirror the STREAMING
  * ingest plane rather than the batch consolidation: first-wins, greedy
  * by doc_id (a delta document is rejected if it duplicates anything
  * already existing or any smaller-id delta document, whether or not
  * that smaller document was itself accepted — the same first-claimant
  * rule as nearDupWithinWatermark, where a suppressed claimant's buckets
  * still stay claimed). Archival-grade consolidation of chains remains
  * the batch component pass.
  *
  * Scale shape:
  *  - Exact checks are digest equi-joins: 16-byte md5 + id per row, the
  *    q_dedup_exact contract. The existing side contributes only its
  *    digest set — in production a persisted index, not a rescan.
  *  - Near-dup candidates come from the DF-capped shingle equi-join of
  *    the delta side against the union index (existing ∪ smaller-id
  *    delta). Only shingles the delta actually contains produce join
  *    work, so cost scales with the DELTA, not the corpus; the existing
  *    shingle index (with its document frequencies) is again a
  *    persisted artifact in production, re-derived here only because
  *    the fixture has no store between runs.
  *  - Verification is the true-Jaccard join-back on candidate ids only
  *    — identical scoring to q_ngram_jaccard, so the incremental path
  *    agrees with the batch path wherever both see a pair.
  */
object Incremental {

  /** (doc_id, decision) for every delta document. Decision is one of
    * accepted | exact_dup_existing | exact_dup_internal |
    * near_dup_existing | near_dup_internal, with reject reasons
    * resolved in that fixed priority order (a document that is both an
    * exact and a near duplicate reports the exact reason).
    */
  def admit(existing: DataFrame, delta: DataFrame, nGram: Int = 5,
      maxDf: Int = 50, minJ: Double = 0.8): DataFrame = {
    val ex = existing.select(col("doc_id"), col("text"))
    val dl = delta.select(col("doc_id"), col("text"))

    // per-doc sentinel for NULL text (the q_dedup_exact contract): a
    // failed-extraction delta row matches nothing — the equi-join below
    // already treats NULL as no-match, but the internal-dup window
    // would otherwise group every NULL delta doc into one cluster and
    // reject all but the first as exact_dup_internal
    val dh = dl.select(col("doc_id"),
      coalesce(md5(col("text").cast("binary")),
        concat(lit("null:"), col("doc_id"))).as("h"))
    // left_semi instead of distinct + inner join: the semi join needs no
    // dedup of the existing digest set (one exchange fewer), and emits
    // each delta doc at most once — exactly what the old distinct
    // guaranteed
    val exH = ex.select(md5(col("text").cast("binary")).as("h"))
    val exactExisting = dh.join(exH, Seq("h"), "left_semi").select("doc_id")
    val exactInternal = dh
      .withColumn("mn", min("doc_id").over(Window.partitionBy("h")))
      .where(col("doc_id") =!= col("mn")).select("doc_id")

    // union shingle index (production: persisted, with DF statistics)
    val all = ex.select(col("doc_id"), lit(true).as("oe"), col("text"))
      .unionByName(dl.select(col("doc_id"), lit(false).as("oe"), col("text")))
    // eager pin: the delta-probes-index equi-join below (the
    // jaccardPairs candidate shape) plans on measured size
    val sets = Materialize.pin(
      all.select(col("doc_id"), col("oe"),
        array_distinct(TextFunctions.wordShingles(col("text"), nGram)).as("sh")),
      eager = true)
    // candidate probes join on DF-capped 64-bit shingle hashes; false
    // candidates from a collision are removed by the exact string-set
    // verification below (NearDup.shingleHashes)
    val exploded = NearDup.capDocFreq(NearDup.shingleHashes(sets, "oe"),
      maxDf)
    // delta docs probe the index; a match counts if the other side is
    // existing, or an earlier (smaller-id) delta document
    val cands = exploded.where(!col("oe")).as("x")
      .join(exploded.as("y"),
        col("x.s") === col("y.s") &&
          (col("y.oe") || col("y.doc_id") < col("x.doc_id")))
      .select(col("x.doc_id").as("d"), col("y.doc_id").as("o"),
        col("y.oe").as("oe"))
      .distinct()
    val near = cands
      .join(sets.select(col("doc_id").as("d"), col("sh").as("shd")), "d")
      .join(sets.select(col("doc_id").as("o"), col("sh").as("sho")), "o")
      .withColumn("inter",
        size(array_intersect(col("shd"), col("sho"))).cast("long"))
      // INTEGER-quantized jaccard cut (Det.r4q vs round(minJ*10000)):
      // exact integer comparison on both engines, no double at the cut
      .withColumn("jq", Det.r4q(col("inter").cast("double") /
        (size(col("shd")).cast("long") + size(col("sho")).cast("long") -
          col("inter"))))
      .where(col("jq") >= math.round(minJ * 10000))
    // BOTH near flags from one aggregation — two filtered-distinct
    // branches would each re-execute the whole candidate+verify subtree
    // (caching shares only `sets`), doubling the expensive stage
    val nearFlags = near.groupBy(col("d").as("doc_id"))
      .agg(max(col("oe")).as("f_ne"), max(!col("oe")).as("f_ni"))

    def flag(ids: DataFrame, name: String): DataFrame =
      ids.withColumn(name, lit(true))

    val result = dl.select("doc_id")
      .join(flag(exactExisting, "f_ee"), Seq("doc_id"), "left")
      .join(flag(exactInternal, "f_ei"), Seq("doc_id"), "left")
      .join(nearFlags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_ee"), "exact_dup_existing")
          .when(col("f_ei"), "exact_dup_internal")
          .when(col("f_ne"), "near_dup_existing")
          .when(col("f_ni"), "near_dup_internal")
          .otherwise("accepted").as("decision"))
    Materialize.releaseAfterFirstUse(result, sets)
  }
}
