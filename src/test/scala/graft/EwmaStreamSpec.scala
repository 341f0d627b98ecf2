package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Streaming per-key EWMA (StatefulOps.ewmaByKey): the left fold must be
  * event-time ordered regardless of arrival order or micro-batch
  * boundaries — watermark-gated buffering is the mechanism — and the
  * resulting trajectory must equal the batch q_ewma fold on the same
  * events.
  */
class EwmaStreamSpec extends AnyFunSuite with LocalSparkSuite {

  private val base = 1700000000000L
  private def ev(key: String, sec: Int, seq: Long, v: Double) = {
    val t = new Timestamp(base + sec * 1000L)
    EventEnvelope(graft.core.Stamp(t, t, Map("k" -> key)), (seq, v))
  }

  /** Batch model: the q_ewma fold (init with first value; alert when
    * value > 1.5x the running average; fold 0.5/0.5) in (ts, seq) order.
    */
  private def model(events: Seq[(String, Long, Long, Double)])
      : Map[String, (Double, Long, Long)] =
    events.groupBy(_._1).map { case (k, evs) =>
      var ewma = 0.0; var alerts = 0L; var n = 0L
      evs.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, v) =>
        if (n > 0 && v > 1.5 * ewma) alerts += 1
        ewma = if (n == 0) v else 0.5 * ewma + 0.5 * v
        n += 1
      }
      k -> (ewma, alerts, n)
    }

  private def run(publishes: Seq[Seq[EventEnvelope[(Long, Double)]]])
      : Seq[EwmaUpdate] = {
    val ps = new PubSub(spark)
    val t = ps.topic[(Long, Double)](s"ewma-${System.nanoTime()}")
    val out = StatefulOps.ewmaByKey(0.5, 1.5, "5 seconds")(
      _.stamp.meta.getOrElse("k", "?"))(t.stream)
    val buf = mutable.Buffer.empty[EwmaUpdate]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EwmaUpdate], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    publishes.foreach { evs => t.publish(evs); q.processAllAvailable() }
    q.stop()
    ps.close()
    buf.toSeq
  }

  private def flush(sec: Int) = ev("flush", sec, 0L, 0.0)

  test("out-of-order arrivals within the horizon fold in event-time " +
      "order: the trajectory equals the batch fold") {
    // events arrive 3rd, 1st, 2nd across two micro-batches
    val rows = run(Seq(
      Seq(ev("u", 3, 3L, 8.0), ev("u", 1, 1L, 2.0)),
      Seq(ev("u", 2, 2L, 4.0)),
      Seq(flush(60)))).filter(_.key == "u")
    // fold order must be seq 1, 2, 3 regardless of arrival
    assert(rows.map(_.seq) == Seq(1L, 2L, 3L), s"fold order wrong: $rows")
    assert(rows.map(_.ewma) == Seq(2.0, 3.0, 5.5))
    // 4 > 1.5*2 fires, 8 > 1.5*3 fires
    assert(rows.map(_.alert) == Seq(false, true, true))
  }

  test("an event is NOT folded while its time still equals the " +
      "watermark (strict release: equal-time peers may still arrive)") {
    val rows = run(Seq(
      Seq(ev("u", 10, 2L, 5.0)),
      // watermark after this batch = 10s - 5s delay = 5s < 10s: pending
      Seq(ev("u", 10, 1L, 1.0)), // equal-time, LOWER seq — still accepted
      Seq(flush(60)))).filter(_.key == "u")
    assert(rows.map(_.seq) == Seq(1L, 2L),
      s"equal-time lower-seq event lost its fold position: $rows")
    assert(rows.map(_.ewma) == Seq(1.0, 3.0))
  }

  test("silent key still flushes via the event-time timeout when OTHER " +
      "keys advance the watermark") {
    val rows = run(Seq(
      Seq(ev("quiet", 1, 1L, 7.0)),
      // only the noisy key publishes afterwards; watermark advances
      Seq(ev("noisy", 30, 1L, 1.0)),
      Seq(ev("noisy", 60, 2L, 1.0))))
    val quiet = rows.filter(_.key == "quiet")
    assert(quiet.map(r => (r.seq, r.ewma)) == Seq((1L, 7.0)),
      s"buffered event on a silent key never folded: $rows")
  }

  test("random shuffled streams across many micro-batches equal the " +
      "batch model per key (final ewma, alert count, n)") {
    val rng = new scala.util.Random(11)
    val keys = Seq("a", "b", "c")
    val events = (1 to 240).map { i =>
      (keys(rng.nextInt(keys.size)), base + i * 1000L, i.toLong,
        math.floor(rng.nextDouble() * 100) / 10.0)
    }
    // shuffle arrival WITHIN a bounded displacement (< watermark delay)
    // so every event stays inside the horizon
    val arrivals = events
      .map(e => (e._2 + (rng.nextInt(5) - 2) * 1000L, e))
      .sortBy(_._1).map(_._2)
    val envs = arrivals.map { case (k, ts, seq, v) =>
      val t = new Timestamp(ts)
      EventEnvelope(graft.core.Stamp(t, t, Map("k" -> k)), (seq, v))
    }
    val rows = run(envs.grouped(31).toSeq :+ Seq(flush(600)))
    val got = rows.filterNot(_.key == "flush").groupBy(_.key)
      .map { case (k, rs) =>
        val last = rs.maxBy(_.n)
        k -> (last.ewma, rs.count(_.alert).toLong, last.n)
      }
    val expected = model(events.map { case (k, ts, seq, v) =>
      (k, ts, seq, v) })
    assert(got == expected,
      s"streaming fold diverged from the batch model:\n$got\nvs\n$expected")
  }

  test("restart from checkpoint recovers the PENDING buffer: buffered " +
      "events fold after restart, exactly once, in order") {
    val ps = new PubSub(spark)
    val t = ps.topic[(Long, Double)](s"ewma-restart-${System.nanoTime()}")
    val out = StatefulOps.ewmaByKey(0.5, 1.5, "5 seconds")(
      _.stamp.meta.getOrElse("k", "?"))(t.stream)
    val ckpt = tempPath("ewma-ckpt")
    val buf = mutable.Buffer.empty[EwmaUpdate]
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[EwmaUpdate], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()

    val q1 = start()
    // watermark stays behind both events: they live ONLY in state
    t.publish(Seq(ev("u", 1, 1L, 2.0), ev("u", 2, 2L, 4.0)))
    q1.processAllAvailable()
    q1.stop()
    assert(buf.isEmpty, s"events folded before the watermark passed: $buf")

    val q2 = start()
    t.publish(Seq(flush(60)))
    q2.processAllAvailable()
    q2.stop()
    ps.close()

    val rows = buf.filter(_.key == "u")
    assert(rows.map(r => (r.seq, r.ewma, r.n)) ==
      Seq((1L, 2.0, 1L), (2L, 3.0, 2L)),
      s"pending buffer lost or double-folded across restart: $buf")
  }

  test("a straggler beyond the horizon is dropped by the engine's " +
      "late-row filter — the fold it missed is untouched") {
    val rows = run(Seq(
      Seq(ev("u", 1, 1L, 2.0), ev("u", 2, 2L, 2.0)),
      Seq(flush(100)), // watermark far past both
      Seq(ev("u", 3, 3L, 10.0)), // straggler: ts=3s << watermark
      Seq(flush(200)))).filter(_.key == "u")
    assert(rows.map(_.seq) == Seq(1L, 2L),
      s"a beyond-horizon straggler was folded: $rows")
    assert(rows.last.ewma == 2.0 && rows.count(_.alert) == 0)
  }
}
