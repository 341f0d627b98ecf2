package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import graft.core.EventEnvelope

/** The reference's operator catalog on the TYPED streaming surface:
  * pure `Dataset[EventEnvelope[A]] => Dataset[EventEnvelope[B]]`
  * combinators (reference: pkg/processing/default_operators.go and
  * default_filter_operators.go).
  *
  * These mirror the reference's arbitrary-Go-closure operators, so they
  * are lambda-based (no codegen). The DataFrame-level ops in
  * graft.operators.Ops are the performance surface; these are the
  * type-safe parity surface. A derived event keeps/merges its input
  * stamps exactly like NewEventFromOthers (pkg/events/event.go:42-44).
  */
object TypedOps {

  type Op[A, B] = Dataset[EventEnvelope[A]] => Dataset[EventEnvelope[B]]

  private def enc[T: TypeTag]: Encoder[EventEnvelope[T]] =
    ExpressionEncoder[EventEnvelope[T]]()

  /** Filter (reference: default_filter_operators.go:11-20). */
  def filter[T](p: T => Boolean): Op[T, T] =
    _.filter((e: EventEnvelope[T]) => p(e.content))

  /** Greater (reference :23-28). */
  def greater[T](c: T)(implicit num: Ordering[T]): Op[T, T] =
    filter(v => num.gt(v, c))

  /** Smaller (reference :31-36). */
  def smaller[T](c: T)(implicit num: Ordering[T]): Op[T, T] =
    filter(v => num.lt(v, c))

  /** Even — truncates to integer part first (reference :39-44; float
    * behavior pinned by default_operators_test.go:117-143).
    */
  def even[T](implicit num: Numeric[T]): Op[T, T] =
    filter(v => num.toLong(v) % 2 == 0)

  /** Odd (reference :47-52). */
  def odd[T](implicit num: Numeric[T]): Op[T, T] =
    filter(v => num.toLong(v) % 2 != 0)

  /** Contains (reference :70-75). */
  def contains(sub: String): Op[String, String] =
    filter(_.contains(sub))

  /** Map: 1:1 transform keeping the input stamp (reference Map,
    * default_operators.go:104-113 — output is NewEventFromOthers of the
    * single input, i.e. same interval).
    */
  def map[A, B: TypeTag](f: A => B): Op[A, B] = { ds =>
    implicit val e: Encoder[EventEnvelope[B]] = enc[B]
    ds.map((ev: EventEnvelope[A]) => EventEnvelope(ev.stamp, f(ev.content)))
  }

  /** Convert: numeric cast (reference Convert, :61-76) — an alias of map
    * with a cast function, e.g. `convert[Int, Double](_.toDouble)`.
    */
  def convert[A, B: TypeTag](cast: A => B): Op[A, B] = map(cast)

  /** FlatMap: 1:N, N may be 0 (reference FlatMap, :221-242; 0-output
    * behavior pinned by default_operators_test.go:244-273). Each output
    * keeps the input's stamp.
    */
  def flatMap[A, B: TypeTag](f: A => Seq[B]): Op[A, B] = { ds =>
    implicit val e: Encoder[EventEnvelope[B]] = enc[B]
    ds.flatMap((ev: EventEnvelope[A]) =>
      f(ev.content).map(b => EventEnvelope(ev.stamp, b)))
  }

  /** Tokenize: whitespace split (reference :264-268). */
  def tokenize: Op[String, String] =
    flatMap[String, String](s =>
      s.split("\\s+").toSeq.filter(_.nonEmpty))

  /** Observe: side-effect tap, pass-through (reference :245-261). The
    * callback runs on EXECUTORS, once per event per action — so a
    * driver-visible observation must flow through a cluster-safe
    * channel (an accumulator, a metrics sink), never shared JVM state:
    * a static singleton only appears to work under local[n]'s single
    * JVM and observes nothing once executors are separate processes
    * (caught by the r14 local-cluster run; StreamingSpec's observe
    * test demonstrates the accumulator pattern).
    */
  def observe[T: TypeTag](f: T => Unit): Op[T, T] = { ds =>
    implicit val e: Encoder[EventEnvelope[T]] = enc[T]
    ds.map { (ev: EventEnvelope[T]) => f(ev.content); ev }
  }

  /** Streaming exact dedup by content within a watermark horizon — the
    * ingest-time face of the batch exact dedup (q_dedup_exact): the
    * first occurrence of a content value passes (stamp intact), repeats
    * arriving while the key is inside the horizon are dropped. State is
    * BOUNDED: dropDuplicatesWithinWatermark evicts a key once the
    * watermark passes its event time, so the state store holds only the
    * horizon's working set (hash-partitioned by key; RocksDB-backed via
    * Sessions.tuneLargeState at scale) — unlike a raw dropDuplicates,
    * whose key set grows without bound on an infinite stream. A repeat
    * arriving after eviction is re-emitted; horizon-scoped dedup is the
    * contract (exactly what ingest pipelines want: suppress the
    * duplicate burst, bound the memory).
    */
  def dedupWithinWatermark[T: TypeTag](delay: String): Op[T, T] = { ds =>
    implicit val e: Encoder[EventEnvelope[T]] = enc[T]
    EventEnvelope.withEventTime(ds.toDF(), delay)
      .dropDuplicatesWithinWatermark("content")
      .drop("event_time")
      .as[EventEnvelope[T]]
  }

  /** Streaming APPROXIMATE near-dup suppression — the ingest-time face of
    * the batch MinHash-LSH path (q_minhash_lsh), so the ingest story
    * matches the batch story: a document passes iff it claims ALL of its
    * LSH band buckets first; a later document sharing any band bucket
    * with one inside the watermark horizon (collision probability
    * 1-(1-j^r)^b in the jaccard j, the usual banding dial) is dropped.
    *
    * Mechanics — two chained stateful stages, both watermark-bounded:
    *  1. shingle → one-pass native MinHash signature → band hashes,
    *     exploded to one row per (band, h); `dropDuplicatesWithinWatermark
    *     (band, h)` keeps each bucket's FIRST claimant, state evicted at
    *     the watermark (horizon working set, like dedupWithinWatermark —
    *     RocksDB-backed via Sessions.tuneLargeState at scale).
    *  2. a small windowed count re-assembles docs: kept iff n_claimed ==
    *     nBands, emitting the earliest claimant's original envelope.
    * Band hashes are 64-bit (HashFunctions.lshBands64 — xxhash64 over
    * the band's signature rows, NOT the 31-bit mod-P fold the batch
    * path uses for DuckDB reproducibility), so a chance (non-similar)
    * bucket collision within the horizon is ~n/2^64 — the suppression
    * threshold is governed by the banding parameters, not hash luck.
    * The widths differ deliberately: batch banding is followed by an
    * exact-Jaccard verify (a fold collision costs a wasted verify),
    * while this gate suppresses directly on collision with no verify,
    * so it cannot afford the 31-bit floor.
    *
    * Semantics and trades (documented, spec-pinned):
    *  - Emission is DELAYED: a doc surfaces once the watermark passes its
    *    granule window (latency ≤ delay + granule). Exact dedup above is
    *    pass-through; approximate needs the claim count assembled.
    *  - Across micro-batches, first-arrival deterministically wins. A
    *    near-dup CLUSTER inside one micro-batch may split its bucket
    *    claims (dropDuplicates has no intra-batch order) and in the worst
    *    case suppress every member; ingest flood suppression tolerates
    *    this, archival dedup should run the batch consolidation pass.
    *  - Docs with no extractable shingles (< nGram words) use their FULL
    *    content as a single shingle: identical short docs collide in
    *    every band (exact dedup within the horizon), distinct short docs
    *    share nothing. (An earlier sentinel-signature design clustered
    *    ALL short docs together — IngestSpec pins the fix.)
    */
  def nearDupWithinWatermark(delay: String, nGram: Int = 5,
      nPerms: Int = 64, nBands: Int = 16, seed: Long = 42L,
      granule: String = "1 second"): Op[String, String] = { ds =>
    import org.apache.spark.sql.functions._
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    val banded = bandedProjection(delay, nGram, nPerms, nBands, seed)(
      ds.toDF())
    // The envelope (stamp + content — the document's heavy bytes) rides
    // ONE designated band row (band 0) into the band-claim exchange
    // instead of all nBands rows (guide §8: shuffle keys and metadata,
    // move the payload once — previously every document's content
    // crossed the state-store exchange nBands times). Recovery is
    // loss-free: a kept document by definition keeps ALL its band rows
    // (n_claimed === nBands), so its band-0 row — the only envelope
    // carrier — is always in the group; per (window, doc_key) there is
    // at most one surviving (band=0, h) claimant, so the
    // null-skipping first() is deterministic. Cross-micro-batch
    // first-arrival-wins is unchanged (the first arrival claims every
    // bucket including band 0); among duplicate arrivals inside one
    // micro-batch the emitted envelope is the band-0 claimant's, not
    // the earliest event time's — which arrival claims band 0 is
    // dropDuplicates' arbitrary intra-batch choice (NearDupStreamSpec
    // pins this as intended).
    banded
      .select(col("event_time"), col("doc_key"), col("band"), col("h"),
        when(col("band") === 0,
          struct(col("stamp"), col("content"))).as("ev0"))
      .dropDuplicatesWithinWatermark("band", "h")
      .groupBy(window(col("event_time"), granule), col("doc_key"))
      .agg(count(lit(1)).as("n_claimed"),
        first(col("ev0"), ignoreNulls = true).as("ev"))
      .where(col("n_claimed") === nBands)
      .select(col("ev.stamp").as("stamp"), col("ev.content").as("content"))
      .as[EventEnvelope[String]]
  }

  /** [[nearDupWithinWatermark]] with the banding sized by
    * [[graft.operators.Ann.lshPlanJaccard]] — the ingest-plane face of
    * the auto dial the batch paths carry (nearDupPairsAuto,
    * minhashLshPairsAuto). A stream has no count(), so the caller
    * supplies `expectedHorizonDocs`: the number of DISTINCT documents
    * expected inside the dedup horizon (the watermark-bounded state,
    * NOT the archive — band-claim state is horizon-evicted, so that
    * working set is what bucket populations are made of). Returns the
    * plan it runs so callers/monitors can report the live scheme;
    * rows·bands is the per-doc signature+state budget, which the
    * ingest profile (SCALE.md) shows is ~60% of per-doc cost — the
    * auto form keeps that budget right-sized instead of fixed at
    * 64/16 as the horizon population scales.
    */
  def nearDupWithinWatermarkAuto(delay: String, expectedHorizonDocs: Long,
      threshold: Double = 0.8, targetRecall: Double = 0.999,
      targetBucket: Long = 256L, backgroundSim: Double = 0.1,
      nGram: Int = 5, seed: Long = 42L, granule: String = "1 second")
      : (graft.operators.Ann.LshPlan, Op[String, String]) = {
    val plan = graft.operators.Ann.lshPlanJaccard(
      math.max(1L, expectedHorizonDocs), threshold, targetRecall,
      targetBucket, backgroundSim)
    (plan, nearDupWithinWatermark(delay, nGram,
      plan.bitsPerBand * plan.nBands, plan.nBands, seed, granule))
  }

  /** The stateless first half of [[nearDupWithinWatermark]] — watermark
    * stamp, md5 doc key, one-pass MinHash signature, band explode —
    * factored out so NearDupStreamSpec can observe the band-claim
    * stage apart from the claim-count window that follows it.
    */
  private[graft] def bandedProjection(delay: String, nGram: Int,
      nPerms: Int, nBands: Int, seed: Long)(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(nBands > 0 && nPerms % nBands == 0,
      s"nPerms=$nPerms must be a positive multiple of nBands=$nBands")
    EventEnvelope.withEventTime(df, delay)
      .withColumn("doc_key", md5(col("content").cast("binary")))
      .withColumn("sig", graft.functions.HashFunctions.minhashSignature(
        {
          val shRaw = array_distinct(
            graft.functions.TextFunctions.wordShingles(col("content"), nGram))
          when(size(shRaw) === 0, array(col("content"))).otherwise(shRaw)
        },
        nPerms, seed))
      .select(col("stamp"), col("content"), col("event_time"), col("doc_key"),
        explode(graft.functions.HashFunctions.lshBands64(
          col("sig"), nBands, nPerms / nBands)).as("bh"))
      .select(col("stamp"), col("content"), col("event_time"), col("doc_key"),
        col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Streaming importance gate — the ingest-plane face of
    * q_importance_weights: score each document's hashed-unigram bag
    * under a PRE-FITTED bucket LM (graft.operators.Importance.fit — the
    * offline artifact) and pass only documents whose log weight clears
    * the threshold. The LM rides in the plan as a map literal, so this
    * is a STATELESS per-row filter: no join, no state store, no
    * watermark requirement — the cheapest possible streaming operator
    * shape, exactly because the artifact was fitted offline.
    * ImportanceGateSpec pins gate-vs-batch parity.
    */
  def importanceGate(lm: graft.operators.Importance.Lm,
      minLogw: Double): Op[String, String] = { ds =>
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    ds.toDF()
      .where(graft.operators.Importance.logw(
        org.apache.spark.sql.functions.col("content"), lm) >= minLogw)
      .as[EventEnvelope[String]]
  }

  /** Streaming MODEL-quality gate — the ingest-plane face of the
    * trainable classifier (operators.QualityModel, anchored by
    * q_quality_classifier): keep documents whose sigmoid score clears
    * `minScore`. Stateless like the importance gate — the weight
    * vector rides in the plan as five literals, the features come from
    * one per-row text-profile pass, so this is a map-only filter with
    * no join, no state, no watermark. The cut compares the
    * r4-quantized score against an integer threshold (the same
    * structural guard as every batch membership cut). Weights persist
    * via Artifacts.saveClassifier; ArtifactsSpec drives this gate from
    * a LOADED artifact.
    */
  def qualityModelGate(weights: graft.operators.QualityModel.Weights,
      minScore: Double): Op[String, String] = { ds =>
    import org.apache.spark.sql.functions._
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    ds.toDF()
      .where(floor(graft.operators.QualityModel.score(
        col("content"), weights) * 10000 + 0.5)
        >= math.round(minScore * 10000))
      .as[EventEnvelope[String]]
  }

  /** Streaming decontamination gate — the ingest-plane face of
    * q_contamination_bloom: drop any document sharing >= `minShared`
    * shingle BUCKETS with the pre-fitted eval suite
    * (graft.operators.Decontamination.fitBuckets). Stateless like the
    * importance gate — the artifact rides in the plan (InSet probe per
    * shingle), so there is no join, no state, no watermark; the
    * documented trade vs the batch path is the bloom FPR without the
    * exact-verify second stage.
    */
  def decontaminationGate(evalBuckets: Set[Long], nGram: Int = 3,
      minShared: Int = 2): Op[String, String] = { ds =>
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    ds.toDF()
      .where(graft.operators.Decontamination.hitCount(
        org.apache.spark.sql.functions.col("content"), evalBuckets, nGram)
        < minShared)
      .as[EventEnvelope[String]]
  }

  /** Streaming corpus ingest — the ingest-plane face of the batch corpus
    * build (q_corpus_build): per-event quality gate, then near-dup band
    * suppression within the watermark horizon (which subsumes exact
    * dedup: identical docs — including short ones, via the full-content
    * shingle fallback above — collide in every band). Stage order
    * deliberately differs from batch: the stateless quality gate runs
    * FIRST so the suppression state stores only documents that can enter
    * the corpus (the streaming analogue of pushing a filter below a
    * stateful operator); the documented consequence is that a
    * low-quality first arrival does not claim state, so a later
    * high-quality duplicate passes. A single watermarked pipeline — no
    * multi-branch union whose min-watermark could stall one branch on
    * the other's silence.
    */
  def corpusIngest(delay: String, minQuality: Double = 0.4,
      nGram: Int = 5, nPerms: Int = 64, nBands: Int = 16)
      : Op[String, String] = { ds =>
    import org.apache.spark.sql.functions._
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    val gated = ds.toDF()
      // integer-quantized cut (same structural guard as the batch
      // quality gates): no double comparison at the threshold
      .where(graft.functions.TextFunctions.qualityScoreQ(col("content"))
        >= math.round(minQuality * 10000))
      .as[EventEnvelope[String]]
    nearDupWithinWatermark(delay, nGram, nPerms, nBands).apply(gated)
  }

  /** Stream-static enrichment: left-join the event stream against a
    * STATIC dimension frame on the event content and fold the selected
    * dimension columns into the envelope's stamp meta (string-cast;
    * unmatched events pass through with meta untouched — the reference
    * LeftJoin's unmatched-passthrough, applied to metadata). Dimension
    * values win on key collision, the stamp-merge later-wins rule.
    *
    * This is the third artifact-delivery mode on the ingest plane, for
    * dimensions too big to ride the plan: literals (importance LM,
    * decon buckets) < BROADCAST stream-static join (this — Spark
    * re-broadcasts the dimension per micro-batch, no state) < keyed
    * stateful join (only when the dimension itself streams). The
    * caller wraps `dim` in `broadcast()` when it fits; an unbroadcast
    * dimension shuffle-joins each micro-batch, which is the correct
    * fallback for a dimension of millions of rows.
    */
  def enrichWithStatic(dim: org.apache.spark.sql.DataFrame, dimKey: String,
      attach: Seq[String]): Op[String, String] = { ds =>
    import org.apache.spark.sql.functions._
    require(attach.nonEmpty, "enrichWithStatic needs at least one column")
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    val d = dim.select((dimKey +: attach).map(org.apache.spark.sql.functions.col): _*)
    val attached = ds.toDF()
      .join(d, col("content") === d(dimKey), "left")
    val metaEntries = attach.flatMap(c =>
      Seq(lit(c), attached(c).cast("string")))
    attached
      .withColumn("stamp", struct(
        col("stamp.start_time").as("start_time"),
        col("stamp.end_time").as("end_time"),
        map_concat(col("stamp.meta"),
          map_filter(org.apache.spark.sql.functions.map(metaEntries: _*),
            (_, v) => v.isNotNull))
          .as("meta")))
      .select("stamp", "content")
      .as[EventEnvelope[String]]
  }

  /** The FULL ingest pipeline in one watermarked call: every stateless
    * gate (quality, importance under a fitted LM, decontamination
    * against a fitted eval-bucket set) runs BEFORE the stateful
    * near-dup suppression, so — as with corpusIngest — the suppression
    * state stores only documents that can actually enter the corpus.
    * Gate order among the stateless three is cost-ordered (quality is
    * the cheapest reject), but any order produces the same set: they
    * are independent per-row predicates. This is the ingest face of
    * "corpus build + data selection": q_corpus_build's stages plus
    * q_importance_weights' cut plus q_contamination_bloom's prefilter,
    * each in its streaming form.
    */
  def corpusIngestSelective(delay: String,
      lm: graft.operators.Importance.Lm,
      evalBuckets: Set[Long],
      minQuality: Double = 0.4,
      minLogw: Double = 0.0,
      // DROP threshold, same name and reading as decontaminationGate's:
      // a document sharing >= minShared eval buckets is dropped
      minShared: Int = 2,
      nGram: Int = 5,
      // suppression-stage banding dial: fewer perms at constant
      // rows-per-band trades measured recall for signature throughput
      // (SCALE.md records the 64/16-vs-32/8 recall and docs/s table)
      nPerms: Int = 64, nBands: Int = 16): Op[String, String] = { ds =>
    import org.apache.spark.sql.functions._
    implicit val e: Encoder[EventEnvelope[String]] = enc[String]
    val gated = ds.toDF()
      .where(graft.functions.TextFunctions.qualityScoreQ(col("content"))
        >= math.round(minQuality * 10000))
      .where(graft.operators.Importance.logw(col("content"), lm) >= minLogw)
      .where(graft.operators.Decontamination.hitCount(
        col("content"), evalBuckets) < minShared)
      .as[EventEnvelope[String]]
    nearDupWithinWatermark(delay, nGram, nPerms, nBands).apply(gated)
  }
}
