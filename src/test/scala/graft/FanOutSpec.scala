package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Fan-out topology and sorted (event-time ordered) delivery
  * (reference: CreateFanOutStream query_builder_test.go:195-253; sorted
  * stream pkg/pubsub/stream_test.go:203-273).
  */
class FanOutSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("fan-out: one upstream feeds n independent downstream queries") {
    val ps = new PubSub(spark)
    val evens = mutable.Buffer.empty[Int]
    val bigs = mutable.Buffer.empty[Int]
    val Seq(branch1, branch2) = QueryBuilder[Int](ps)
      .from("fan-src")
      .fanOut(TypedOps.filter[Int](_ > 0), 2)
    val q1 = branch1.connectTo(TypedOps.even[Int]).build()
      .subscribe(evs => evens.synchronized { evens ++= evs.map(_.content) })
      .run()
    val q2 = branch2.connectTo(TypedOps.greater(7)).build()
      .subscribe(evs => bigs.synchronized { bigs ++= evs.map(_.content) })
      .run()
    ps.topic[Int]("fan-src").publish(
      (1 to 10).map(i => EventEnvelope.at(ts(i), i)))
    q1.drain(); q2.drain()
    q1.close(); q2.close()
    assert(evens.sorted == List(2, 4, 6, 8, 10))
    assert(bigs.sorted == List(8, 9, 10))
    ps.close()
  }

  test("subscriber sees event-time order even when published out of order") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("unsorted")
    val seen = mutable.Buffer.empty[Int]
    val sub = ps.subscribe(t.stream) { evs =>
      seen.synchronized { seen ++= evs.map(_.content) }; ()
    }
    // publish in scrambled event-time order within one batch
    t.publish(Seq(
      EventEnvelope.at(ts(5), 5), EventEnvelope.at(ts(1), 1),
      EventEnvelope.at(ts(3), 3), EventEnvelope.at(ts(2), 2),
      EventEnvelope.at(ts(4), 4)))
    sub.drain()
    sub.close()
    assert(seen.toList == List(1, 2, 3, 4, 5)) // sorted by stamp
    ps.close()
  }

  test("streaming word-count window (reference custom-operator example)") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("wc")
    val rows = mutable.Buffer.empty[(String, Long)]
    val q = TemporalOps.wordCountWindow("10 seconds")(t.stream)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r =>
            (r.getAs[String]("word"), r.getAs[Long]("n")))
        }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(1), "to be or not"),
      EventEnvelope.at(ts(2), "to be"),
      EventEnvelope.at(ts(15), "trigger"))) // closes [0,10)
    q.processAllAvailable()
    q.stop()
    assert(rows.toMap == Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
    ps.close()
  }
}
