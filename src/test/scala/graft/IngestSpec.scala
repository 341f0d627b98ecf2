package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Streaming corpus ingest (TypedOps.corpusIngest): quality gate first,
  * then watermark-bounded duplicate suppression — near-dup bands for
  * shingle-able documents, exact dedup for short ones (the split that
  * keeps DISTINCT short docs from clustering on the sentinel signature).
  */
class IngestSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  private val docA = ("the quick brown fox jumps over the lazy dog while " +
    "seventeen sleepy pandas carefully arrange bamboo stalks beside the " +
    "quiet river and three ravens watch from a crooked pine tree " +
    "counting clouds drifting past the northern ridge before dusk")
  private val docANear = docA.replace("ravens", "magpies")
  private val docB = ("completely different content about distributed " +
    "query engines shuffling columnar batches across executor threads " +
    "with adaptive partition coalescing broadcast hash joins watermark " +
    "eviction and whole stage code generation keeping the hot loop tight " +
    "under vectorized parquet scans")
  // < 5 words (no shingles) but stopword-rich enough to clear the
  // quality gate — they must exercise the short-doc dedup path, not die
  // in the gate
  private val shortX = "this is a note"
  private val shortY = "it was the memo"
  private val junk = "!!! ??? ... ;;; ::: (((" // punct-heavy: quality ~0

  test("quality gate drops junk; near-dups and exact repeats are " +
      "suppressed; distinct short docs BOTH pass") {
    val ps = new PubSub(spark)
    val t = ps.topic[String](s"ingest-${System.nanoTime()}")
    val kept = TypedOps.corpusIngest(delay = "5 seconds").apply(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[String]]
    val q = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()

    t.publish(Seq(
      EventEnvelope.at(ts(0), docA),
      EventEnvelope.at(ts(1), docB),
      EventEnvelope.at(ts(1), shortX),
      EventEnvelope.at(ts(2), junk)))
    q.processAllAvailable()
    t.publish(Seq(
      EventEnvelope.at(ts(3), docANear), // near-dup of A within horizon
      EventEnvelope.at(ts(3), docA), // exact repeat within horizon
      EventEnvelope.at(ts(4), shortY), // DISTINCT short doc
      EventEnvelope.at(ts(4), shortX))) // exact short repeat
    q.processAllAvailable()
    // far-future flush closes the near-dup claim windows
    t.publish(Seq(EventEnvelope.at(ts(60),
      "flush marker document with enough words to pass the quality gate " +
      "and the shingle threshold for the long branch of the pipeline")))
    q.processAllAvailable()
    q.stop()
    ps.close()

    val contents = buf.map(_.content)
    assert(contents.count(_ == docA) == 1, "docA must pass exactly once")
    assert(contents.contains(docB), "distinct long doc was suppressed")
    assert(!contents.contains(docANear),
      "near-duplicate slipped through the band suppression")
    assert(!contents.contains(junk), "junk survived the quality gate")
    assert(contents.count(_ == shortX) == 1,
      "short doc must pass exactly once")
    assert(contents.contains(shortY),
      "a DISTINCT short doc was clustered away — the split is broken")
    // envelopes survive the pipeline intact (first claimant's stamp)
    assert(buf.find(_.content == docA).get.stamp.start_time == ts(0))
  }

  test("selective ingest: each gate drops its planted doc — quality, " +
      "importance, decontamination, then near-dup suppression") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.{Decontamination, Importance}

    // decon artifact fitted on a tiny "eval suite"; docB shares >= 2
    // of its 5-gram... (3-gram default) shingles with it
    val evalText = "distributed query engines shuffling columnar batches"
    val buckets = Decontamination.fitBuckets(
      Seq(evalText).toDF("text"), col("text"))
    // importance LM: neutral default, strongly negative on docANear's
    // distinguishing token so ONLY that doc scores below the cut
    val markerBucket = Seq("magpies").toDF("t")
      .select(Importance.bucket(col("t")).as("b")).as[Long].head()
    val lm = Importance.Lm(Map(markerBucket -> -100000L), default = 10L)

    // fixture self-check with the BATCH columns: the planted intents
    // must actually hold, or the streaming assertions are vacuous
    val batch = Seq(docA, docANear, docB, junk).toDF("text")
      .select(col("text"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
        Importance.logw(col("text"), lm).as("w"),
        Decontamination.hitCount(col("text"), buckets).as("h"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getInt(3))).toMap
    assert(batch(junk)._1 < 0.4, "junk fixture no longer fails quality")
    assert(batch(docANear)._2 < 0.0 && batch(docA)._2 >= 0.0,
      "importance fixture no longer isolates docANear")
    assert(batch(docB)._3 >= 2 && batch(docA)._3 < 2,
      "decon fixture no longer isolates docB")

    val ps = new PubSub(spark)
    val t = ps.topic[String](s"ingest-sel-${System.nanoTime()}")
    val kept = TypedOps.corpusIngestSelective("5 seconds", lm, buckets)
      .apply(t.stream)
    val buf = mutable.Buffer.empty[String]
    val q = kept.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(0), docA), // passes every gate
      EventEnvelope.at(ts(1), junk), // quality reject
      EventEnvelope.at(ts(1), docANear), // importance reject
      EventEnvelope.at(ts(2), docB), // decontamination reject
      EventEnvelope.at(ts(3), docA))) // near-dup (exact) suppression
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(60),
      "flush marker document with enough words to pass the quality gate " +
      "and the shingle threshold for the long branch of the pipeline")))
    q.processAllAvailable()
    q.stop(); ps.close()

    assert(buf.count(_ == docA) == 1, s"docA once, got $buf")
    assert(!buf.contains(junk) && !buf.contains(docANear) &&
      !buf.contains(docB), s"a planted reject passed: $buf")
  }

  test("restart from checkpoint recovers the near-dup BAND state: a " +
      "near-duplicate arriving after restart is still suppressed") {
    // The EwmaStreamSpec/TopKStreamSpec recovery pins cover
    // mapGroupsWithState; this covers the dedup gate's OTHER state —
    // dropDuplicatesWithinWatermark's band claims plus the windowed
    // claim-count aggregation. Sequence: docA's 16 band claims enter
    // state pre-restart (watermark behind, nothing emitted), the query
    // stops, a NEW query resumes from the checkpoint, and docA's
    // near-duplicate arrives. Lost band state would let the near-dup
    // claim its own bands and emit; recovered state suppresses it and
    // emits docA exactly once, original stamp.
    val ps = new PubSub(spark)
    val t = ps.topic[String](s"ingest-rec-${System.nanoTime()}")
    val kept = TypedOps.nearDupWithinWatermark("5 seconds").apply(t.stream)
    val ckpt = tempPath("ingest-rec-ckpt")
    val buf = mutable.Buffer.empty[EventEnvelope[String]]
    def start() = kept.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()

    val q1 = start()
    t.publish(Seq(EventEnvelope.at(ts(0), docA)))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty,
      s"claim window emitted before the watermark passed: $buf")

    val q2 = start()
    t.publish(Seq(
      EventEnvelope.at(ts(3), docANear), // near-dup of pre-restart docA
      EventEnvelope.at(ts(3), docA))) // exact repeat
    q2.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(60),
      "flush marker document with enough words to pass the quality gate " +
      "and the shingle threshold for the long branch of the pipeline")))
    q2.processAllAvailable()
    q2.stop()
    ps.close()

    val contents = buf.map(_.content)
    assert(contents.count(_ == docA) == 1,
      s"docA must survive the restart exactly once: $contents")
    assert(!contents.contains(docANear),
      "near-dup passed after restart — band state was lost with the " +
        "checkpoint")
    assert(buf.find(_.content == docA).get.stamp.start_time == ts(0),
      "recovered emission must carry the FIRST claimant's stamp")
  }
}
