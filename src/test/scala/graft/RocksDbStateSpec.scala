package graft

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EventEnvelope, Sessions}
import graft.streaming._

/** Exercises `Sessions.tuneLargeState` — the RocksDB state store is the
  * documented scale path for every keyed stateful operator (SCALE.md
  * "Streaming dedup"), so the claim needs a run, not just a scaladoc:
  * the watermark-bounded dedup and the keyed gapless sequencer both
  * execute here under RocksDBStateStoreProvider, with the provider's
  * own progress metrics asserted so the test cannot silently fall back
  * to the in-memory store.
  */
class RocksDbStateSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def configure(b: SparkSession.Builder) =
    Sessions.tuneLargeState(b)

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  private def assertRanOnRocksDb(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    assert(ops.nonEmpty, "no stateful operator reported progress")
    val metricKeys = ops.flatMap(_.customMetrics.keySet().asScala)
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"state store did not report RocksDB metrics (got: $metricKeys) — " +
        "the provider conf silently fell back to the in-memory store")
  }

  test("watermark-bounded streaming dedup runs on the RocksDB store " +
      "with identical semantics") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("rocks-dedup")
    val deduped =
      TypedOps.dedupWithinWatermark[Int]("10 minutes").apply(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[Int]]
    val q = deduped.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[Int]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    t.publish(Seq(EventEnvelope.at(ts(0), 1), EventEnvelope.at(ts(1), 2),
      EventEnvelope.at(ts(2), 1)))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(3), 2), EventEnvelope.at(ts(4), 3)))
    q.processAllAvailable()
    assertRanOnRocksDb(q)
    q.stop()
    assert(buf.map(_.content).sorted == List(1, 2, 3))
    assert(buf.find(_.content == 1).get.stamp.start_time == ts(0))
    ps.close()
  }

  test("keyed gapless temporal sequencer runs on the RocksDB store " +
      "with identical semantics") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("rocks-gapless")
    val wins = StatefulOps.temporalBatchesGaplessByKey[Int](10000L)(
      e => (e.content % 2).toString)(t.stream)
    val buf = mutable.Buffer.empty[(String, WindowBatch[Int])]
    val q = wins.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[(String, WindowBatch[Int])], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    // each key's origin anchors at ITS first event; gap buckets must be
    // filled with empty windows, exactly as the in-memory provider does
    // (GaplessPropertiesSpec semantics). 10s buckets:
    //   key 0: events at 0s/31s/45s -> closed [0,10)={0}, [10,20)={},
    //          [20,30)={}, [30,40)={2}; 45s still open
    //   key 1: events at 12s/33s/46s -> closed [12,22)={1}, [22,32)={},
    //          [32,42)={3}; 46s still open
    t.publish(Seq(EventEnvelope.at(ts(0), 0), EventEnvelope.at(ts(12), 1),
      EventEnvelope.at(ts(31), 2), EventEnvelope.at(ts(33), 3),
      EventEnvelope.at(ts(45), 4), EventEnvelope.at(ts(46), 5)))
    q.processAllAvailable()
    assertRanOnRocksDb(q)
    q.stop()
    val byKey = buf.groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_.windowId)).toMap
    // per key: window ids gapless in 10s steps from the key's origin
    for ((k, ws) <- byKey) {
      val ids = ws.map(_.windowId)
      assert(ids == ids.indices.map(i => ids.head + i * 10L),
        s"key $k emitted gappy windows: $ids")
    }
    assert(byKey("0").map(_.events) == Seq(Seq(0), Nil, Nil, Seq(2)))
    assert(byKey("1").map(_.events) == Seq(Seq(1), Nil, Seq(3)))
    ps.close()
  }
}
