package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Streaming approximate near-dup suppression
  * (TypedOps.nearDupWithinWatermark): planted near-duplicates arriving
  * within the watermark horizon are suppressed, distinct documents pass,
  * and the kept document surfaces with its ORIGINAL envelope. The
  * MinHash seed is fixed, so band collisions — and therefore every
  * assertion here — are deterministic.
  */
class NearDupStreamSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  // ~40 words so a one-word edit leaves shingle jaccard ~0.75+, far
  // above the 16x4 banding knee (collision probability > 0.99); with
  // the fixed seed the collision is a constant, not a coin flip
  private val docA = ("the quick brown fox jumps over the lazy dog while " +
    "seventeen sleepy pandas carefully arrange bamboo stalks beside the " +
    "quiet river and three ravens watch from a crooked pine tree " +
    "counting clouds drifting past the northern ridge before dusk")
  private val docB = docA.replace("ravens", "magpies") // near-dup of A
  private val docC = ("completely different content about distributed " +
    "query engines shuffling columnar batches across executor threads " +
    "with adaptive partition coalescing broadcast hash joins watermark " +
    "eviction and whole stage code generation keeping the hot loop tight " +
    "under vectorized parquet scans")

  test("near-dups within the horizon are suppressed; distinct docs pass " +
      "with their original envelopes") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("neardup-stream")
    val kept = TypedOps.nearDupWithinWatermark(
      delay = "5 seconds").apply(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[String]]
    val q = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()

    // batch 1: A and C (distinct); batch 2: B (near-dup of A, inside
    // the horizon); batch 3: a far-future flush advances the watermark
    // past every granule window so the claim counts emit
    t.publish(Seq(EventEnvelope.at(ts(0), docA), EventEnvelope.at(ts(1), docC)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(2), docB)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(60), "flush marker document")))
    q.processAllAvailable()
    q.stop()

    val contents = buf.map(_.content).toSet
    assert(contents.contains(docA), "first occurrence was suppressed")
    assert(contents.contains(docC), "a distinct document was suppressed")
    assert(!contents.contains(docB),
      "near-duplicate inside the watermark horizon was NOT suppressed")
    // the kept doc carries its original stamp (first claimant's envelope)
    assert(buf.find(_.content == docA).get.stamp.start_time == ts(0))
    ps.close()
  }

  test("an exact duplicate re-arriving in a later batch within the " +
      "horizon is suppressed too (band claims all collide)") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("neardup-exact")
    val kept = TypedOps.nearDupWithinWatermark(
      delay = "5 seconds").apply(t.stream)
    val buf = mutable.Buffer.empty[String]
    val q = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(Seq(EventEnvelope.at(ts(0), docA)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(2), docA)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(60), "flush marker document")))
    q.processAllAvailable()
    q.stop()
    assert(buf.count(_ == docA) == 1,
      s"expected exactly one emission of the duplicated doc, got $buf")
    ps.close()
  }

  test("auto-sized banding (nearDupWithinWatermarkAuto) reports its " +
      "plan and suppresses the same planted near-dup") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("neardup-auto")
    // horizon sized at 100k distinct docs -> rows track the background
    // collision base (lshPlanJaccard: ceil(ln(100000/256)/ln(10)) = 3)
    val (plan, op) = TypedOps.nearDupWithinWatermarkAuto(
      delay = "5 seconds", expectedHorizonDocs = 100000L)
    assert(plan.bitsPerBand == 3, s"unexpected auto rows: $plan")
    assert(plan.expectedRecall >= 0.999)
    val kept = op(t.stream)
    val buf = mutable.Buffer.empty[String]
    val q = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(Seq(EventEnvelope.at(ts(0), docA), EventEnvelope.at(ts(1), docC)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(2), docB)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(60), "flush marker document")))
    q.processAllAvailable()
    q.stop()
    assert(buf.contains(docA) && buf.contains(docC))
    assert(!buf.contains(docB),
      "near-duplicate not suppressed under the auto-sized banding")
    ps.close()
  }

  // ---- order-independence contract (SCALE.md "second find", VERDICT
  // r17 item 4): on a mutually-near-duplicate corpus the OUTPUT SET is
  // legitimately arrival-order-dependent (first-wins band claims race
  // among near-identical members), but two quantities must NOT move
  // with arrival order, and this pins them:
  //  1. the admitted band-key COUNT (band-claim state out — a set
  //     cardinality: each distinct (band,h) key is admitted exactly
  //     once within the horizon, whoever claims it);
  //  2. exact-duplicate suppression (identical content never emits
  //     twice — its claims all collide with its twin's);
  // plus: a document sharing NO band with the cluster always emits.

  /** base + 6 one-word variants (mutually near-dup), an exact duplicate
    * of variant 0, and one unrelated doc — 9 docs, near-dup-dense.
    */
  private def denseCorpus: Seq[String] = {
    val variants = Seq("ravens", "magpies", "crows", "herons", "storks",
      "cranes").map(w => docA.replace("ravens", w))
    (variants :+ variants.head) :+ docC
  }

  /** Publish `docs` one micro-batch each (timestamps follow ARRIVAL
    * slot, so watermark progression is order-invariant), flush, and
    * return (emitted contents, admitted band-claim row count).
    */
  private def runOrdered(docs: Seq[String], tag: String): (Seq[String], Long) = {
    import org.apache.spark.sql.{DataFrame, Dataset}
    val ps = new PubSub(spark)
    // full pipeline: what emits
    val t1 = ps.topic[String](s"ndorder-$tag")
    val kept = TypedOps.nearDupWithinWatermark(
      delay = "30 seconds").apply(t1.stream)
    val emitted = mutable.Buffer.empty[String]
    val q1 = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        emitted.synchronized { emitted ++= b.collect().map(_.content) }; ()
      }.start()
    // band-claim stage alone: how many keys get admitted
    val t2 = ps.topic[String](s"ndbands-$tag")
    val admittedRows = new java.util.concurrent.atomic.AtomicLong(0)
    val admitted = TypedOps.bandedProjection(
      "30 seconds", 5, 64, 16, 42L)(t2.stream.toDF())
      .dropDuplicatesWithinWatermark("band", "h")
    val q2 = admitted.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        admittedRows.addAndGet(b.count()); ()
      }.start()
    docs.zipWithIndex.foreach { case (d, i) =>
      val ev = Seq(EventEnvelope.at(ts(i), d))
      t1.publish(ev); t2.publish(ev)
      q1.processAllAvailable(); q2.processAllAvailable()
    }
    val flush = Seq(EventEnvelope.at(ts(600), "flush marker document"))
    t1.publish(flush); t2.publish(flush)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop(); ps.close()
    (emitted.toSeq.filterNot(_ == "flush marker document"),
      admittedRows.get())
  }

  test("arrival order moves near-dup survivor identity at most — never " +
      "the admitted band-key count, exact-dup suppression, or a " +
      "disjoint doc's admission") {
    val natural = denseCorpus
    // fixed permutation (deterministic spec), materially different order
    val shuffled = new scala.util.Random(13).shuffle(natural)
    assert(shuffled != natural)
    val (emitN, bandsN) = runOrdered(natural, "nat")
    val (emitS, bandsS) = runOrdered(shuffled, "shuf")
    // 1. admitted band-key count is a set cardinality: order-invariant
    //    (the flush doc's own claims are included identically in both)
    assert(bandsN === bandsS,
      s"admitted band-claim count moved with arrival order: $bandsN vs $bandsS")
    assert(bandsN > 0)
    // 2. exact-dup suppression: no content ever emits twice (the corpus
    //    contains an exact duplicate pair)
    assert(emitN.distinct === emitN, s"duplicate emission (natural): $emitN")
    assert(emitS.distinct === emitS, s"duplicate emission (shuffled): $emitS")
    // 3. the band-disjoint doc is admitted under every order
    assert(emitN.contains(docC) && emitS.contains(docC))
    // 4. honest non-pin: survivor IDENTITY among mutual near-dups may
    //    vary with order — assert only what the contract guarantees
    //    (some survivor set, never empty: someone claims first)
    assert(emitN.nonEmpty && emitS.nonEmpty)
  }

  // ---- intra-batch stamp selection (intended behaviour): among
  // duplicate arrivals inside ONE micro-batch, the emitted envelope is
  // the band-0 claimant's — the arrival whose band-0 row survived the
  // band-claim dedup — not the earliest event time among the survivors.
  // Only band-0 rows carry the envelope into the claim exchange
  // (TypedOps.nearDupWithinWatermark), so this is the designed choice.

  test("duplicate arrivals inside one micro-batch emit the band-0 " +
      "claimant's envelope") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val ps = new PubSub(spark)
    val t1 = ps.topic[String]("ndstamp-full")
    val kept = TypedOps.nearDupWithinWatermark(
      delay = "30 seconds").apply(t1.stream)
    val emitted = mutable.Buffer.empty[EventEnvelope[String]]
    val q1 = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        emitted.synchronized { emitted ++= b.collect() }; ()
      }.start()
    // the band-claim stage alone, same input: which arrival claims band 0
    val t2 = ps.topic[String]("ndstamp-bands")
    val band0 = mutable.Buffer.empty[(String, Timestamp)]
    val q2 = TypedOps.bandedProjection("30 seconds", 5, 64, 16, 42L)(
        t2.stream.toDF())
      .dropDuplicatesWithinWatermark("band", "h")
      .where(col("band") === 0)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        band0.synchronized {
          band0 ++= b.select(col("content"), col("stamp.start_time"))
            .collect().map(r => (r.getString(0), r.getTimestamp(1)))
        }; ()
      }.start()
    // three copies of docA in one micro-batch and one 1-second granule,
    // the LATEST event time arriving first
    val base = ts(0).getTime
    val copies = Seq(700L, 200L, 450L).map(ms =>
      EventEnvelope.at(new Timestamp(base + ms), docA))
    val flush = Seq(EventEnvelope.at(ts(600), "flush marker document"))
    for (batch <- Seq(copies, flush)) {
      t1.publish(batch); t2.publish(batch)
      q1.processAllAvailable(); q2.processAllAvailable()
    }
    q1.stop(); q2.stop(); ps.close()

    val claimant = band0.filter(_._1 == docA)
    assert(claimant.size == 1, s"band 0 admitted $claimant for docA")
    val out = emitted.filter(_.content == docA)
    assert(out.size == 1, s"expected one docA emission, got $out")
    assert(out.head.stamp.start_time == claimant.head._2,
      s"emitted stamp ${out.head.stamp.start_time} is not the band-0 " +
        s"claimant's ${claimant.head._2}")
    assert(out.head.stamp == copies.map(_.stamp)
      .find(_.start_time == claimant.head._2).get,
      "the emitted envelope must be one arrival's whole envelope")
  }

  test("bandedProjection rejects nBands = 0 by naming the values, not " +
      "with a division by zero") {
    val e = intercept[IllegalArgumentException](
      TypedOps.bandedProjection("1 minute", 5, 64, 0, 42L)(
        spark.emptyDataFrame))
    assert(e.getMessage.contains("nPerms=64") &&
      e.getMessage.contains("nBands=0"), e.getMessage)
  }
}
