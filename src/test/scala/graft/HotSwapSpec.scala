package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifacts, EventEnvelope}
import graft.operators.QualityModel
import graft.streaming.{HotSwap, PubSub}

/** Hot artifact refresh on a RUNNING stream (HotSwap.classifierGateRelay):
  * bump the classifier artifact mid-stream and the gate's outputs flip at
  * a batch boundary with no event lost or duplicated — no consumer
  * restart, no barrier protocol.
  */
class HotSwapSpec extends AnyFunSuite with LocalSparkSuite {

  // bias-only weight vectors saturate the sigmoid far from the 0.5 cut,
  // so keep/drop is unambiguous for ANY text
  private val keepAll = QualityModel.Weights(Seq(50.0, 0.0, 0.0, 0.0, 0.0))
  private val dropAll = QualityModel.Weights(Seq(-50.0, 0.0, 0.0, 0.0, 0.0))

  test("bumping the classifier artifact flips a RUNNING gate at a batch " +
      "boundary with no event lost or duplicated") {
    val root = tempPath("hotswap")
    Artifacts.saveClassifier(spark, root, 1, keepAll)
    val ps = new PubSub(spark)
    val in = ps.topic[String]("hotswap-in")
    val out = ps.topic[String]("hotswap-out")
    // collect everything the gate emits (content) with a counter, so
    // duplicates would be visible, not collapsed by a set
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = out.stream.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[String]], _: Long) =>
          seen.synchronized { seen ++= b.collect().map(_.content) }; ()
      }.start()
    val gate = HotSwap.classifierGateRelay(in, out, root, minScore = 0.5)
    val base = 1700000000000L
    def publish(tags: String*): Unit =
      in.publish(tags.zipWithIndex.map { case (t, i) =>
        EventEnvelope.at(new Timestamp(base + i), t)
      })
    def drain(): Unit = {
      gate.query.processAllAvailable()
      sink.processAllAvailable()
    }

    // epoch 1: v1 (keep-all) passes the whole batch
    publish("a1", "a2")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2"))
    assert(gate.currentVersion == 1)

    // bump to v2 (drop-all) MID-STREAM: the next epoch re-resolves and
    // drops its whole batch — the flip lands exactly at the boundary
    Artifacts.saveClassifier(spark, root, 2, dropAll)
    publish("b1", "b2")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2"),
      "v2 (drop-all) must gate out the second batch")
    assert(gate.currentVersion == 2)

    // bump back to a keep-all v3: later events flow again; earlier
    // kept events were published exactly once (no loss, no dup)
    Artifacts.saveClassifier(spark, root, 3, keepAll)
    publish("c1")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2", "c1"))
    assert(gate.currentVersion == 3)

    gate.query.stop()
    sink.stop()
    ps.close()
  }

  test("gateRelay generalizes: bumping the importance LM flips a " +
      "RUNNING gate at a batch boundary with the same no-loss pins") {
    val root = tempPath("hotswap-lm")
    // bucket-free LMs: every token takes the default log-ratio, so the
    // cut at 0.0 is unambiguous for any non-empty text
    val keepLm = graft.operators.Importance.Lm(Map.empty, 1000L)
    val dropLm = graft.operators.Importance.Lm(Map.empty, -1000L)
    Artifacts.saveImportanceLm(spark, root, 1, keepLm)
    val ps = new PubSub(spark)
    val in = ps.topic[String]("hotswap-lm-in")
    val out = ps.topic[String]("hotswap-lm-out")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = out.stream.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[String]], _: Long) =>
          seen.synchronized { seen ++= b.collect().map(_.content) }; ()
      }.start()
    val gate = HotSwap.importanceGateRelay(in, out, root, minLogw = 0.0)
    val base = 1700000000000L
    def publish(tags: String*): Unit =
      in.publish(tags.zipWithIndex.map { case (t, i) =>
        EventEnvelope.at(new Timestamp(base + i), t)
      })
    def drain(): Unit = {
      gate.query.processAllAvailable()
      sink.processAllAvailable()
    }

    publish("a1", "a2")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2"))
    assert(gate.currentVersion == 1)

    Artifacts.saveImportanceLm(spark, root, 2, dropLm)
    publish("b1", "b2")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2"),
      "v2 (drop-all LM) must gate out the second batch")
    assert(gate.currentVersion == 2)

    Artifacts.saveImportanceLm(spark, root, 3, keepLm)
    publish("c1")
    drain()
    assert(seen.synchronized(seen.toList.sorted) == List("a1", "a2", "c1"))
    assert(gate.currentVersion == 3)

    gate.query.stop()
    sink.stop()
    ps.close()
  }

  test("decontamination-bucket hot swap: a doc passing under the v1 " +
      "eval suite is blocked once v2 adds its shingles") {
    import spark.implicits._
    val root = tempPath("hotswap-dc")
    val planted = "the planted evaluation answer rides these exact words"
    val unrelated = "completely different ingest content about columnar " +
      "shuffles"
    def bucketsOf(text: String): Set[Long] =
      graft.operators.Decontamination.fitBuckets(
        Seq(text).toDF("text"), org.apache.spark.sql.functions.col("text"))
    // v1 eval suite shares nothing with either doc
    Artifacts.saveEvalBuckets(spark, root, 1,
      bucketsOf("orthogonal benchmark sentences live here instead"))
    val ps = new PubSub(spark)
    val in = ps.topic[String]("hotswap-dc-in")
    val out = ps.topic[String]("hotswap-dc-out")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = out.stream.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[String]], _: Long) =>
          seen.synchronized { seen ++= b.collect().map(_.content) }; ()
      }.start()
    val gate = HotSwap.decontaminationGateRelay(in, out, root)

    in.publish(Seq(EventEnvelope.at(new Timestamp(1700000000000L), planted)))
    gate.query.processAllAvailable(); sink.processAllAvailable()
    assert(seen.synchronized(seen.toList) == List(planted),
      "under v1 the planted doc is uncontaminated and must pass")

    // the eval suite grows to include the planted doc's shingles
    Artifacts.saveEvalBuckets(spark, root, 2, bucketsOf(planted))
    in.publish(Seq(
      EventEnvelope.at(new Timestamp(1700000000100L), planted),
      EventEnvelope.at(new Timestamp(1700000000101L), unrelated)))
    gate.query.processAllAvailable(); sink.processAllAvailable()
    assert(seen.synchronized(seen.toList) == List(planted, unrelated),
      "v2 must block the now-contaminated doc and pass the unrelated one")
    assert(gate.currentVersion == 2)

    gate.query.stop()
    sink.stop()
    ps.close()
  }

  test("the relay fails loudly when no classifier artifact exists") {
    val root = tempPath("hotswap-empty")
    val ps = new PubSub(spark)
    val in = ps.topic[String]("hotswap-in-2")
    val out = ps.topic[String]("hotswap-out-2")
    val gate = HotSwap.classifierGateRelay(in, out, root, minScore = 0.5)
    in.publish(Seq(EventEnvelope.at(new Timestamp(1700000000000L), "x")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      gate.query.processAllAvailable()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[NoSuchElementException] &&
        c.getMessage.contains("before starting the relay")))
    ps.close()
  }
}
