package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Keyed counting windows — the horizontally scalable stateful variant:
  * one independent window sequence per key, state partitioned by key.
  */
class KeyedCountingSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("counting windows run on the RocksDB state store (scale path)") {
    val ps = new PubSub(spark)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t = ps.topic[Int]("rocks-cw")
      val wins = StatefulOps.countingWindows[Int](3, 3)(t.stream)
      val buf = mutable.Buffer.empty[Seq[Int]]
      val q = wins.writeStream.outputMode("append")
        .foreachBatch { (b: Dataset[WindowBatch[Int]], _: Long) =>
          buf.synchronized { buf ++= b.collect().map(_.events) }; ()
        }.start()
      t.publish((1 to 7).map(i => EventEnvelope.at(ts(i), i)))
      q.processAllAvailable()
      t.publish(Seq(EventEnvelope.at(ts(10), 8), EventEnvelope.at(ts(11), 9)))
      q.processAllAvailable() // state survived across batches in RocksDB
      q.stop()
      assert(buf.toList == List(Seq(1, 2, 3), Seq(4, 5, 6), Seq(7, 8, 9)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      ps.close()
    }
  }

  test("independent window sequences per key, state across batches") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("keyed-cw")
    val wins = StatefulOps.countingWindowsByKey[String](2, 2)(
      _.content.takeWhile(_ != ':'))(t.stream)
    val buf = mutable.Buffer.empty[(String, Seq[String])]
    val q = wins.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[(String, WindowBatch[String])], _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map { case (k, wb) => (k, wb.events) }
        }; ()
      }.start()
    // interleaved keys a/b; windows must form per key, not globally
    t.publish(Seq(
      EventEnvelope.at(ts(1), "a:1"), EventEnvelope.at(ts(2), "b:1"),
      EventEnvelope.at(ts(3), "a:2"), EventEnvelope.at(ts(4), "b:2"),
      EventEnvelope.at(ts(5), "a:3")))
    q.processAllAvailable()
    // a:3 pending (incomplete second window for a)
    assert(buf.sortBy(x => (x._1, x._2.mkString(","))).toList == List(
      ("a", Seq("a:1", "a:2")), ("b", Seq("b:1", "b:2"))))
    t.publish(Seq(EventEnvelope.at(ts(6), "a:4")))
    q.processAllAvailable()
    q.stop()
    assert(buf.sortBy(x => (x._1, x._2.mkString(","))).toList == List(
      ("a", Seq("a:1", "a:2")), ("a", Seq("a:3", "a:4")),
      ("b", Seq("b:1", "b:2"))))
    ps.close()
  }
}
