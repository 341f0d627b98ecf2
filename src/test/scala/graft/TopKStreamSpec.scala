package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Streaming per-window top-k (StatefulOps.topKByWindow): exact counts
  * per value within tumbling event-time windows, top k emitted once per
  * window when the watermark passes its end, deterministic
  * (count desc, value asc) rank order, late events dropped.
  */
class TopKStreamSpec extends AnyFunSuite with LocalSparkSuite {

  private val base = 1700000000000L // window-grid aligned (10s windows)
  private def ts(sec: Int) = new Timestamp(base + sec * 1000L)

  private def run(publishes: Seq[Seq[EventEnvelope[String]]],
      lengthMs: Long, k: Int): Seq[TopKRow] = {
    val ps = new PubSub(spark)
    val t = ps.topic[String](s"topk-${System.nanoTime()}")
    val out = StatefulOps.topKByWindow(lengthMs, k)(t.stream)
    val buf = mutable.Buffer.empty[TopKRow]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[TopKRow], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    publishes.foreach { evs => t.publish(evs); q.processAllAvailable() }
    q.stop()
    ps.close()
    buf.toSeq
  }

  test("top-k emits once per window at close, ranked by count desc then " +
      "value asc, and counts are exact across micro-batches") {
    val rows = run(Seq(
      // window [0,10): a x3, b x2, c x1 — split over two micro-batches
      Seq(EventEnvelope.at(ts(0), "a"), EventEnvelope.at(ts(1), "b"),
        EventEnvelope.at(ts(2), "a")),
      Seq(EventEnvelope.at(ts(3), "c"), EventEnvelope.at(ts(4), "a"),
        EventEnvelope.at(ts(5), "b")),
      // advance the watermark past the window end to fire it
      Seq(EventEnvelope.at(ts(30), "flush"))), lengthMs = 10000L, k = 2)

    val win0 = rows.filter(_.windowId == base / 1000L)
    assert(win0.map(r => (r.rank, r.value, r.n)) ==
      Seq((1, "a", 3L), (2, "b", 2L)),
      s"expected exact ranked top-2 for the first window, got $rows")
    // k cut: c (count 1) must not appear
    assert(!win0.exists(_.value == "c"))
  }

  test("count ties rank by value ascending (deterministic replay order)") {
    val rows = run(Seq(
      Seq(EventEnvelope.at(ts(0), "z"), EventEnvelope.at(ts(1), "m"),
        EventEnvelope.at(ts(2), "z"), EventEnvelope.at(ts(3), "m"),
        EventEnvelope.at(ts(4), "q")),
      Seq(EventEnvelope.at(ts(30), "flush"))), lengthMs = 10000L, k = 3)
    val win0 = rows.filter(_.windowId == base / 1000L)
    assert(win0.map(r => (r.rank, r.value, r.n)) ==
      Seq((1, "m", 2L), (2, "z", 2L), (3, "q", 1L)))
  }

  test("a late event for a closed window is dropped, not re-emitted") {
    val rows = run(Seq(
      Seq(EventEnvelope.at(ts(0), "a"), EventEnvelope.at(ts(1), "a")),
      Seq(EventEnvelope.at(ts(30), "flush")), // closes [0,10)
      Seq(EventEnvelope.at(ts(2), "a")), // late into the closed window
      Seq(EventEnvelope.at(ts(60), "flush2"))), lengthMs = 10000L, k = 1)
    val win0 = rows.filter(_.windowId == base / 1000L)
    assert(win0.map(r => (r.value, r.n)) == Seq(("a", 2L)),
      s"late event changed or duplicated a closed window: $rows")
  }

  test("random streams: emitted top-k equals the batch model per window") {
    val rng = new scala.util.Random(7)
    val values = Seq("a", "b", "c", "d", "e", "f")
    var t = base
    val events = (0 until 300).map { _ =>
      t += rng.nextInt(3000) // ascending: no event is ever late
      EventEnvelope.at(new Timestamp(t), values(rng.nextInt(values.size)))
    }
    val flush = EventEnvelope.at(new Timestamp(t + 3600L * 1000L), "flush")
    val rows = run(events.grouped(37).toSeq :+ Seq(flush), 10000L, 3)
      .filterNot(_.value == "flush")

    val expected = events
      .groupBy(e => Math.floorDiv(e.stamp.start_time.getTime, 10000L) * 10000L)
      .toSeq.flatMap { case (ws, evs) =>
        evs.groupBy(_.content).map { case (v, es) => (v, es.size.toLong) }
          .toSeq.sortBy { case (v, n) => (-n, v) }.take(3).zipWithIndex
          .map { case ((v, n), i) => TopKRow(ws / 1000L, i + 1, v, n) }
      }.toSet
    assert(rows.toSet == expected,
      s"streamed top-k diverged from the batch model:\n" +
        s"missing=${expected -- rows.toSet}\nextra=${rows.toSet -- expected}")
  }

  test("restart from checkpoint recovers open-window counts — no loss, " +
      "no double-count") {
    val ps = new PubSub(spark)
    val t = ps.topic[String](s"topk-restart-${System.nanoTime()}")
    val out = StatefulOps.topKByWindow(10000L, 2)(t.stream)
    val ckpt = tempPath("topk-ckpt")
    val buf = mutable.Buffer.empty[TopKRow]
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[TopKRow], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()

    val q1 = start()
    t.publish(Seq(EventEnvelope.at(ts(0), "a"), EventEnvelope.at(ts(1), "a"),
      EventEnvelope.at(ts(2), "b")))
    q1.processAllAvailable()
    q1.stop() // window [0,10) still open: counts live only in state

    val q2 = start()
    t.publish(Seq(EventEnvelope.at(ts(3), "a"), EventEnvelope.at(ts(4), "c"),
      EventEnvelope.at(ts(30), "flush")))
    q2.processAllAvailable()
    q2.stop()
    ps.close()

    val win0 = buf.filter(_.windowId == base / 1000L)
    assert(win0.map(r => (r.rank, r.value, r.n)) == Seq((1, "a", 3L), (2, "b", 1L)),
      s"state not recovered across restart: $buf")
  }

  test("windows fire independently: two windows, separate top-k each") {
    val rows = run(Seq(
      Seq(EventEnvelope.at(ts(0), "a"), EventEnvelope.at(ts(12), "b"),
        EventEnvelope.at(ts(13), "b")),
      Seq(EventEnvelope.at(ts(40), "flush"))), lengthMs = 10000L, k = 1)
    assert(rows.filter(_.windowId == base / 1000L)
      .map(r => (r.value, r.n)) == Seq(("a", 1L)))
    assert(rows.filter(_.windowId == base / 1000L + 10)
      .map(r => (r.value, r.n)) == Seq(("b", 2L)))
  }
}
