package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EventEnvelope, Stamp}
import graft.streaming._

/** Stream-static enrichment (TypedOps.enrichWithStatic): dimension
  * columns land in stamp meta, unmatched events pass through untouched,
  * existing meta survives with dimension-wins collision semantics.
  */
class EnrichSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("dimension columns fold into meta; unmatched pass through; " +
      "dimension wins meta-key collisions; nulls attach nothing") {
    import spark.implicits._
    val dim = Seq(
      ("alpha", "greek", 1L),
      ("beta", "greek", 2L),
      ("gamma", null.asInstanceOf[String], 3L)).toDF("word", "family", "rank")

    val ps = new PubSub(spark)
    val t = ps.topic[String](s"enrich-${System.nanoTime()}")
    val out = TypedOps.enrichWithStatic(
      broadcast(dim), "word", Seq("family", "rank"))(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(0), "alpha"),
      // pre-existing meta: 'family' collides (dimension must win),
      // 'origin' must survive
      EventEnvelope(Stamp(ts(1), ts(1),
        Map("family" -> "stale", "origin" -> "crawl")), "beta"),
      EventEnvelope.at(ts(2), "gamma"), // null family: only rank attaches
      EventEnvelope.at(ts(3), "delta"))) // unmatched
    q.processAllAvailable()
    q.stop(); ps.close()

    val byContent = buf.map(e => e.content -> e).toMap
    assert(byContent("alpha").stamp.meta ==
      Map("family" -> "greek", "rank" -> "1"))
    assert(byContent("beta").stamp.meta ==
      Map("family" -> "greek", "rank" -> "2", "origin" -> "crawl"))
    assert(byContent("gamma").stamp.meta == Map("rank" -> "3"))
    assert(byContent("delta").stamp.meta == Map.empty)
    // stamps otherwise intact
    assert(byContent("beta").stamp.start_time == ts(1))
  }
}
