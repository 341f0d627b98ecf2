package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Property-style checks of the gapless temporal sequencer: for random
  * event-time sequences published across several micro-batches, the
  * emitted window sequence is CONTIGUOUS (no bucket skipped), every
  * closed-bucket event lands in exactly the window of its own bucket,
  * and the keyed variant holds the same per key.
  */
class GaplessPropertiesSpec extends AnyFunSuite with LocalSparkSuite {

  // surface task exceptions from stateful operators directly: with
  // validation on, a task that fails mid-batch is masked by
  // STATE_STORE_COMMIT_VALIDATION_FAILED and the root cause is lost
  override protected def configure(b: SparkSession.Builder) =
    b.config("spark.sql.streaming.stateStore.commitValidation.enabled",
      "false")

  private val base = 1700000000000L
  private val LenMs = 10000L

  test("random gaps: contiguous windows, each event in its own bucket") {
    val rng = new scala.util.Random(11)
    // ascending times with random (often bucket-skipping) gaps so no
    // event is late; values identify events uniquely
    var t = base
    val events = (0 until 120).map { i =>
      t += (rng.nextInt(30) + 1) * 1000L
      EventEnvelope.at(new Timestamp(t), i)
    }
    val ps = new PubSub(spark)
    val topic = ps.topic[Int]("gapless-prop")
    val out = StatefulOps.temporalBatchesGapless[Int](LenMs)(topic.stream)
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[Int]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    events.grouped(17).foreach { chunk =>
      topic.publish(chunk); q.processAllAvailable()
    }
    q.stop()

    val origin = events.head.stamp.start_time.getTime
    val ordered = batches.sortBy(_.windowId)
    // contiguity: ids are exactly origin/1000 + k*len for k = 0..n-1
    assert(ordered.map(_.windowId) ==
      ordered.indices.map(k => (origin + k * LenMs) / 1000L))
    // every event of a closed bucket appears exactly once, in its bucket
    val lastClosed = origin + ordered.size * LenMs
    val closedEvents = events.filter(_.stamp.start_time.getTime < lastClosed)
    assert(ordered.flatMap(_.events).sorted ==
      closedEvents.map(_.content).sorted)
    ordered.zipWithIndex.foreach { case (wb, k) =>
      val lo = origin + k * LenMs
      val expected = events.filter { e =>
        val x = e.stamp.start_time.getTime; x >= lo && x < lo + LenMs
      }.map(_.content)
      assert(wb.events.sorted == expected.sorted,
        s"window $k members mismatch")
    }
    ps.close()
  }

  test("corrupt far-future timestamp fails fast instead of buffering " +
      "millions of empty windows") {
    val ps = new PubSub(spark)
    val topic = ps.topic[Int]("gapless-guard")
    val out = StatefulOps.temporalBatchesGapless[Int](LenMs)(topic.stream)
    val q = out.writeStream.outputMode("append")
      // count() forces each micro-batch: an ignored foreachBatch Dataset
      // would never execute the stateful plan (or hit the guard)
      .foreachBatch { (b: Dataset[WindowBatch[Int]], _: Long) =>
        b.count(); () }.start()
    topic.publish(Seq(EventEnvelope.at(new Timestamp(base), 1)))
    q.processAllAvailable()
    // a gap demanding > MaxWindowsPerTrigger windows in one trigger
    val corrupt = base +
      (StatefulOps.MaxWindowsPerTrigger + 10) * LenMs + LenMs
    topic.publish(Seq(EventEnvelope.at(new Timestamp(corrupt), 2)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("MaxWindowsPerTrigger"))),
      s"expected the guard's message in: ${chain(e).map(_.getMessage)}")
    try q.stop() catch { case _: Throwable => () }
    ps.close()
  }

  test("multi-input fan-in: windows (incl. empty) fire only once EVERY " +
      "input passes the window end (ref selection_policy.go:385-398)") {
    val ps = new PubSub(spark)
    val a = ps.topic[Int]("fanin-a")
    val b = ps.topic[Int]("fanin-b")
    val out = StatefulOps.temporalBatchesGaplessMulti[Int](
      LenMs, origin = Some(base))(Seq(a.stream, b.stream))
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (d: Dataset[WindowBatch[Int]], _: Long) =>
        batches.synchronized { batches ++= d.collect() }; ()
      }.start()
    // input A races ahead: events at 0s and 35s; B lags at 5s
    a.publish(Seq(EventEnvelope.at(new Timestamp(base), 10),
      EventEnvelope.at(new Timestamp(base + 35000), 11)))
    b.publish(Seq(EventEnvelope.at(new Timestamp(base + 5000), 20)))
    q.processAllAvailable()
    // A alone passed window ends 10s/20s/30s — but B (watermark 5s) has
    // not, so NOTHING may fire yet (the single-input sequencer would
    // already have closed 3 windows here)
    assert(batches.synchronized(batches.isEmpty),
      s"windows fired before all inputs were ready: $batches")
    // B catches up past 30s: min watermark now 35s -> windows
    // [0,10) {10,20}, [10,20) {}, [20,30) {} close — empties included
    b.publish(Seq(EventEnvelope.at(new Timestamp(base + 36000), 21)))
    q.processAllAvailable()
    q.stop()
    val ordered = batches.synchronized(batches.sortBy(_.windowId))
    assert(ordered.map(_.windowId) ==
      Seq(base / 1000, base / 1000 + 10, base / 1000 + 20))
    assert(ordered.head.events.sorted == Seq(10, 20))
    assert(ordered(1).events.isEmpty && ordered(2).events.isEmpty)
    ps.close()
  }

  test("keyed multi-input fan-in: per-key sequences, global " +
      "min-over-sources readiness") {
    val ps = new PubSub(spark)
    val a = ps.topic[String]("kmulti-a")
    val b = ps.topic[String]("kmulti-b")
    val out = StatefulOps.temporalBatchesGaplessMultiByKey[String](
      LenMs, origin = Some(base))(_.content.take(1))(Seq(a.stream, b.stream))
    val batches = mutable.Buffer.empty[(String, WindowBatch[String])]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (d: Dataset[(String, WindowBatch[String])], _: Long) =>
        batches.synchronized { batches ++= d.collect() }; ()
      }.start()
    def at(sec: Int, v: String) =
      EventEnvelope.at(new Timestamp(base + sec * 1000L), v)
    // keys x: events on A only; y: events on both
    a.publish(Seq(at(1, "x1"), at(25, "x2"), at(2, "y1")))
    b.publish(Seq(at(3, "y2")))
    q.processAllAvailable()
    // B's watermark (3s) holds back EVERY key, including x (A-only)
    assert(batches.synchronized(batches.isEmpty),
      s"keyed windows fired before all sources advanced: $batches")
    b.publish(Seq(at(22, "y3")))
    q.processAllAvailable()
    // min watermark 22s: windows [0,10) and [10,20) close for both keys
    val phase2 = batches.synchronized(batches.toList).groupBy(_._1)
      .map { case (k, ws) =>
        k -> ws.map(_._2).sortBy(_.windowId).map(_.events.sorted) }
    assert(phase2("x") == Seq(Seq("x1"), Seq.empty))
    assert(phase2("y") == Seq(Seq("y1", "y2"), Seq.empty))
    // A races far ahead alone: still NOTHING new may close (B holds the
    // min watermark at 22s) — per-key sequences, but GLOBAL readiness
    a.publish(Seq(at(60, "x3")))
    q.processAllAvailable()
    assert(batches.synchronized(batches.size) == 4,
      s"windows closed while one input lagged: ${batches.synchronized(batches.toList)}")
    // B passes 60s: every bucket end <= 60s closes for BOTH keys — the
    // trailing gap buckets arrive as EMPTY windows (x2@25s and y3@22s
    // fill [20,30); [30,60) is three empties per key)
    b.publish(Seq(at(61, "y4")))
    q.processAllAvailable()
    q.stop()
    val byKey = batches.synchronized(batches.toList).groupBy(_._1)
      .map { case (k, ws) =>
        k -> ws.map(_._2).sortBy(_.windowId).map(_.events.sorted) }
    assert(byKey("x") == Seq(Seq("x1"), Nil, Seq("x2"), Nil, Nil, Nil))
    assert(byKey("y") == Seq(Seq("y1", "y2"), Nil, Seq("y3"), Nil, Nil, Nil))
    ps.close()
  }

  test("sliding windows select and slide based on time " +
      "(ref selection_policy_test.go:100-145, scaled 60x)") {
    // reference: length 1h, slide 10m; e1@0, e2@10m, e3@65m, e4@24h.
    // scaled: length 60s, slide 10s; expectations es1=[e1,e2],
    // es2=[e2,e3], then e3 rides its remaining windows, then empties.
    val ps = new PubSub(spark)
    val topic = ps.topic[String]("gapless-slide")
    val out = StatefulOps.temporalBatchesGapless[String](
      60000L, 10000L)(topic.stream)
    val batches = mutable.Buffer.empty[WindowBatch[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    def at(sec: Int, v: String) =
      EventEnvelope.at(new Timestamp(base + sec * 1000L), v)
    topic.publish(Seq(
      at(0, "e1"), at(10, "e2"), at(65, "e3"), at(1440, "e4")))
    q.processAllAvailable()
    q.stop()
    val ordered = batches.sortBy(_.windowId).map(_.events)
    assert(ordered.head == Seq("e1", "e2"))       // [0,60)
    assert(ordered(1) == Seq("e2", "e3"))         // [10,70)
    assert((2 to 6).forall(ordered(_) == Seq("e3"))) // [20,80)..[60,120)
    assert(ordered.drop(7).forall(_.isEmpty))     // gap until e4's window
    // windows up to [1380,1440) closed by e4@1440 (exclusive end)
    assert(ordered.size == 139)
    ps.close()
  }

  test("cross-micro-batch out-of-order events: members emitted in event-" +
      "time order, meta later-wins honored") {
    val ps = new PubSub(spark)
    val topic = ps.topic[String]("gapless-ooo")
    val out = StatefulOps.temporalBatchesGapless[String](LenMs)(topic.stream)
    val batches = mutable.Buffer.empty[WindowBatch[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    def at(sec: Int, v: String, meta: Map[String, String]) =
      EventEnvelope.at(new Timestamp(base + sec * 1000L), v, meta)
    // batch 1: anchor at t=0 and buffer e@25 (bucket 2 still open)
    topic.publish(Seq(
      at(0, "anchor", Map.empty),
      at(25, "late-arriving-later", Map("k" -> "t25"))))
    q.processAllAvailable()
    // batch 2: an EARLIER event for the same open bucket + the trigger
    topic.publish(Seq(
      at(22, "early-arriving-later", Map("k" -> "t22")),
      at(35, "trigger", Map.empty)))
    q.processAllAvailable()
    q.stop()
    val w2 = batches.sortBy(_.windowId).apply(2)
    // event-time order, not arrival order
    assert(w2.events == Seq("early-arriving-later", "late-arriving-later"))
    // later-wins on event time: the t=25 event's meta must win
    assert(w2.stamp.meta("k") == "t25")
    ps.close()
  }

  // the fan-in sequencer closes on the watermark through an event-time
  // timeout, so its run also shows the timeout re-arm surviving a restart
  for ((path, sequencer) <- Seq[(String,
      Dataset[EventEnvelope[Int]] => Dataset[WindowBatch[Int]])](
    "" -> (ds => StatefulOps.temporalBatchesGapless[Int](LenMs)(ds)),
    " (fan-in)" ->
      (ds => StatefulOps.temporalBatchesGaplessMulti[Int](LenMs)(Seq(ds)))))
  test("sequencer state survives a checkpointed restart: anchor kept, " +
      "pre-restart buckets stay closed" + path) {
    val ps = new PubSub(spark)
    val topic = ps.topic[Int]("gapless-restart" + path.filter(_.isLetter))
    val out = sequencer(topic.stream)
    val ckpt = tempPath("ckpt-gapless")
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[WindowBatch[Int]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    def at(sec: Int, v: Int) =
      EventEnvelope.at(new Timestamp(base + sec * 1000L), v)
    val q1 = start()
    topic.publish(Seq(at(0, 1), at(35, 99))) // closes [0,10)..[20,30)
    q1.processAllAvailable()
    q1.stop()
    assert(batches.size == 3) // (fan-in: fired by the armed timeout)
    val q2 = start()
    topic.publish(Seq(
      at(5, -1),   // late: its bucket closed BEFORE the restart
      at(65, 98))) // closes [30,40)..[50,60)
    q2.processAllAvailable()
    q2.stop()
    val ordered = batches.sortBy(_.windowId)
    // a lost anchor would re-anchor at t=5 (shifted ids) and deliver -1
    assert(ordered.map(_.windowId) ==
      (0 until 6).map(i => (base + i * LenMs) / 1000L))
    assert(ordered.map(_.events) ==
      Seq(Seq(1), Seq.empty, Seq.empty, Seq(99), Seq.empty, Seq.empty))
    ps.close()
  }

  test("grouped-agg temporalBatches agrees with the sequencer on every " +
      "occupied window (GaplessParity)") {
    val ps = new PubSub(spark)
    val t1 = ps.topic[String]("parity-agg")
    val t2 = ps.topic[String]("parity-seq")
    def at(sec: Int, v: String, m: Map[String, String] = Map.empty) =
      EventEnvelope.at(new Timestamp(base + sec * 1000L), v, m)
    // meta collision inside a window exercises the later-wins fold of
    // both implementations
    val evs = Seq(
      at(1, "a", Map("k" -> "early")), at(4, "b", Map("k" -> "late")),
      at(12, "c"), at(47, "d"), at(60, "trigger"))
    def collect(out: Dataset[WindowBatch[String]],
        topic: graft.streaming.Topic[String]): Seq[WindowBatch[String]] = {
      val buf = mutable.Buffer.empty[WindowBatch[String]]
      val q = out.writeStream.outputMode("append")
        .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
          buf.synchronized { buf ++= b.collect() }; ()
        }.start()
      topic.publish(evs); q.processAllAvailable(); q.stop()
      buf.sortBy(_.windowId).toSeq
    }
    val agg = collect(
      TemporalOps.temporalBatches[String]("10 seconds")(t1.stream), t1)
    val seq = collect(StatefulOps.temporalBatchesGapless[String](
      10000L, alignToEpoch = true)(t2.stream), t2)
    val occupied = seq.filter(_.events.nonEmpty)
    assert(agg.map(_.windowId) == occupied.map(_.windowId))
    assert(agg.map(_.events) == occupied.map(_.events))
    assert(agg.map(_.stamp) == occupied.map(_.stamp))
    ps.close()
  }

  test("keyed variant: independent contiguous sequences per key") {
    val ps = new PubSub(spark)
    val topic = ps.topic[String]("gapless-keyed")
    val out = StatefulOps.temporalBatchesGaplessByKey[String](LenMs)(
      _.content.takeWhile(_ != ':'))(topic.stream)
    val batches = mutable.Buffer.empty[(String, WindowBatch[String])]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[(String, WindowBatch[String])], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    def ts(sec: Int) = new Timestamp(base + sec * 1000L)
    topic.publish(Seq(
      EventEnvelope.at(ts(0), "a:1"),
      EventEnvelope.at(ts(5), "b:1"),
      EventEnvelope.at(ts(35), "a:2"),  // key a skips 2 buckets
      EventEnvelope.at(ts(15), "b:2"),  // key b is dense
      EventEnvelope.at(ts(50), "a:9"),  // trigger for a
      EventEnvelope.at(ts(50), "b:9"))) // trigger for b
    q.processAllAvailable()
    q.stop()
    val byKey = batches.groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_.windowId).map(_.events)).toMap
    // a: anchored at a's first event (t=0); trigger at 50 closes [40,50)
    assert(byKey("a") ==
      Seq(Seq("a:1"), Seq.empty, Seq.empty, Seq("a:2"), Seq.empty))
    // b: [b:1], [b:2], [] [] — anchored at b's first event (t=5)
    assert(byKey("b") ==
      Seq(Seq("b:1"), Seq("b:2"), Seq.empty, Seq.empty))
    ps.close()
  }
}
