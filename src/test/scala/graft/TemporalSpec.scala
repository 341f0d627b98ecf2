package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Temporal-window streaming parity (reference:
  * pkg/events/selection_policy_test.go temporal cases; JoinOperatorEngine
  * tests pkg/processing/operators_test.go:372-383 — tests send a trailing
  * trigger event to close the last window, exactly as the reference's
  * data-driven punctuation requires).
  */
class TemporalSpec extends AnyFunSuite with LocalSparkSuite {

  private val base = 1700000000000L // epoch-aligned test clock
  private def ts(sec: Int) = new Timestamp(base + sec * 1000L)

  private def runToCompletion[R](df: DataFrame)(
      publish: () => Unit)(collect: Seq[Row] => R): R = {
    val rows = mutable.Buffer.empty[Row]
    val q = df.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        rows.synchronized { rows ++= b.collect() }; ()
      }.start()
    publish()
    q.processAllAvailable()
    q.stop()
    collect(rows.toSeq)
  }

  test("temporal batchSum: window closes when a later event arrives") {
    val ps = new PubSub(spark)
    val t = ps.topic[Double]("tsum")
    val df = TemporalOps.batchSum[Double]("10 seconds")(t.stream)
    val got = runToCompletion(df) { () =>
      t.publish(Seq(
        EventEnvelope.at(ts(1), 1.0),
        EventEnvelope.at(ts(3), 2.0),
        EventEnvelope.at(ts(11), 5.0))) // trigger: closes [0,10)
    } { rows =>
      rows.map(r => (r.getAs[Timestamp]("window_start"),
        r.getAs[Double]("sum_value"))).toMap
    }
    // only [base, base+10) closed; the window holding 5.0 stays open
    assert(got == Map(new Timestamp(base) -> 3.0))
    ps.close()
  }

  test("boundary event excluded from closing window (ref :202-232)") {
    val ps = new PubSub(spark)
    val t = ps.topic[Double]("tbound")
    val df = TemporalOps.batchCount[Double]("10 seconds")(t.stream)
    val got = runToCompletion(df) { () =>
      // event exactly at the boundary belongs to the NEXT window
      t.publish(Seq(
        EventEnvelope.at(ts(0), 1.0),
        EventEnvelope.at(ts(10), 2.0),  // boundary: next window
        EventEnvelope.at(ts(21), 3.0))) // closes both earlier windows
    } { rows =>
      rows.map(r => (r.getAs[Timestamp]("window_start").getTime,
        r.getAs[Long]("n_events"))).toMap
    }
    assert(got == Map(base -> 1L, (base + 10000) -> 1L))
    ps.close()
  }

  test("sliding temporal window: event lands in length/slide windows") {
    val ps = new PubSub(spark)
    val t = ps.topic[Double]("tslide")
    val df = TemporalOps.batchCount[Double](
      "10 seconds", Some("5 seconds"))(t.stream)
    val got = runToCompletion(df) { () =>
      t.publish(Seq(
        EventEnvelope.at(ts(7), 1.0),   // windows starting at 0 and 5
        EventEnvelope.at(ts(30), 9.9))) // trigger
    } { rows =>
      rows.map(r => (r.getAs[Timestamp]("window_start").getTime,
        r.getAs[Long]("n_events"))).toMap
    }
    assert(got == Map(base -> 1L, (base + 5000) -> 1L))
    ps.close()
  }

  test("late event behind the watermark is dropped (ref :587-589)") {
    val ps = new PubSub(spark)
    val t = ps.topic[Double]("tlate")
    val df = TemporalOps.batchCount[Double]("10 seconds")(t.stream)
    val rows = mutable.Buffer.empty[Row]
    val q = df.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        rows.synchronized { rows ++= b.collect() }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(1), 1.0),
      EventEnvelope.at(ts(30), 2.0))) // watermark -> 30, closes [0,10)
    q.processAllAvailable()
    val afterClose = rows.size
    t.publish(Seq(EventEnvelope.at(ts(2), 9.0))) // late: window closed
    q.processAllAvailable()
    q.stop()
    assert(afterClose == 1)
    assert(rows.size == afterClose) // late event silently skipped
    assert(rows.head.getAs[Long]("n_events") == 1L)
    ps.close()
  }

  test("gapless sequencer emits empty windows between distant events " +
      "(ref selection_policy_test.go:146-201)") {
    // the reference case, scaled 60x: 30s tumbling windows; e1@0 e2@10
    // e3@12 (bucket 0), e4@75 (bucket 2), e5@300 (trigger, far future)
    val ps = new PubSub(spark)
    val t = ps.topic[String]("tgapless")
    val out = StatefulOps.temporalBatchesGapless[String](30000L)(t.stream)
    val batches = mutable.Buffer.empty[WindowBatch[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(0), "e1"),
      EventEnvelope.at(ts(10), "e2"),
      EventEnvelope.at(ts(12), "e3"),
      EventEnvelope.at(ts(75), "e4"),
      EventEnvelope.at(ts(300), "e5"))) // punctuation: closes 0..9
    q.processAllAvailable()
    q.stop()
    val ordered = batches.sortBy(_.windowId)
    // reference expectation: [e1,e2,e3], [], [e4] — then the long gap's
    // empties up to (not including) e5's own still-open bucket
    assert(ordered.map(_.events).take(3) ==
      Seq(Seq("e1", "e2", "e3"), Seq.empty, Seq("e4")))
    assert(ordered.drop(3).forall(_.events.isEmpty))
    assert(ordered.size == 10) // buckets [0,30)..[270,300) all closed
    assert(ordered.map(_.windowId) ==
      (0 until 10).map(i => (base + i * 30000L) / 1000L))
    // occupied window stamp = member min/max; empty = the bucket bounds
    assert(ordered.head.stamp.start_time == ts(0) &&
      ordered.head.stamp.end_time == ts(12))
    assert(ordered(1).stamp.start_time == ts(30) &&
      ordered(1).stamp.end_time == ts(60))
    ps.close()
  }

  test("gapless sequencer drops late events and anchors at first event") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("tgapless2")
    // anchor NOT given: origin = first event's time (ref policy anchors
    // at construction time = e1's stamp in its tests)
    val out = StatefulOps.temporalBatchesGapless[String](10000L)(t.stream)
    val batches = mutable.Buffer.empty[WindowBatch[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
        batches.synchronized { batches ++= b.collect() }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(5), "e1"),
      EventEnvelope.at(ts(16), "e2"))) // closes bucket [5,15)
    q.processAllAvailable()
    t.publish(Seq(
      EventEnvelope.at(ts(6), "late"),  // bucket 0 already emitted
      EventEnvelope.at(ts(26), "e3")))  // closes bucket [15,25)
    q.processAllAvailable()
    q.stop()
    val ordered = batches.sortBy(_.windowId)
    assert(ordered.map(_.events) == Seq(Seq("e1"), Seq("e2")))
    ps.close()
  }

  /** The four gapless sequencers over one input, each giving bare
    * windows: the keyed ones run every event under one key, the fan-in
    * ones take the input as their only branch.
    */
  private def gaplessPaths(latenessMs: Long)
      : Seq[(String, Dataset[EventEnvelope[String]] =>
        Dataset[WindowBatch[String]])] = {
    implicit val enc: Encoder[WindowBatch[String]] =
      ExpressionEncoder[WindowBatch[String]]()
    val key = (_: EventEnvelope[String]) => "k"
    Seq(
      "global" -> (ds => StatefulOps.temporalBatchesGapless[String](
        10000L, latenessMs = latenessMs)(ds)),
      "keyed" -> (ds => StatefulOps.temporalBatchesGaplessByKey[String](
        10000L, latenessMs = latenessMs)(key)(ds).map(_._2)),
      "fan-in" -> (ds => StatefulOps.temporalBatchesGaplessMulti[String](
        10000L, latenessMs = latenessMs)(Seq(ds))),
      "keyed fan-in" -> (ds =>
        StatefulOps.temporalBatchesGaplessMultiByKey[String](
          10000L, latenessMs = latenessMs)(key)(Seq(ds)).map(_._2)))
  }

  // the global path keeps the test's original name
  for ((path, sequencer) <- gaplessPaths(latenessMs = 10000L))
    test("allowedLateness: late-but-within-grace lands, beyond-grace drops" +
        (if (path == "global") "" else s" ($path)")) {
      val ps = new PubSub(spark)
      val t = ps.topic[String](s"tlateness-$path")
      // length 10s, lateness 10s: a window stays open until punctuation
      // passes end + 10s, so an out-of-order event <=10s behind max still
      // finds its window; one behind a CLOSED window drops like before.
      val out = sequencer(t.stream)
      val batches = mutable.Buffer.empty[WindowBatch[String]]
      val q = out.writeStream.outputMode("append")
        .foreachBatch { (b: Dataset[WindowBatch[String]], _: Long) =>
          batches.synchronized { batches ++= b.collect() }; ()
        }.start()
      t.publish(Seq(
        EventEnvelope.at(ts(5), "e1"),
        EventEnvelope.at(ts(16), "e2"))) // 0-lateness would close [5,15)
      q.processAllAvailable()
      // 10s and 7s behind max-seen, within the grace: [5,15) is still
      // open
      t.publish(Seq(
        EventEnvelope.at(ts(6), "late"),
        EventEnvelope.at(ts(9), "within")))
      q.processAllAvailable()
      assert(batches.isEmpty) // nothing closed yet: bound = 16s - 10s grace
      t.publish(Seq(EventEnvelope.at(ts(40), "e3"))) // bound 30: b0, b1
      q.processAllAvailable()
      // [5,15) closed above -> an event for it now is BEYOND the grace
      t.publish(Seq(
        EventEnvelope.at(ts(7), "beyond"),
        EventEnvelope.at(ts(70), "flush"))) // bound 60: through [45,55)
      q.processAllAvailable()
      q.stop()
      // the fan-in pair hold the grace in the branch watermark delay, and
      // Spark's late-row filter drops an event AT the watermark (ts <=
      // max - lateness): "late", exactly 10s behind, lands only on the
      // single-input pair, which drop only events behind a closed window
      val first =
        if (path.contains("fan-in")) Seq("e1", "within")
        else Seq("e1", "late", "within")
      val ordered = batches.sortBy(_.windowId)
      assert(ordered.map(_.events) ==
        Seq(first, Seq("e2"), Seq(), Seq("e3"), Seq()))
      assert(!batches.exists(_.events.contains("beyond")))
      ps.close()
    }

  test("subscribeBatch with temporal policy delivers whole windows") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("tbatch")
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val sub = ps.subscribeBatch(t.stream,
      TemporalWindowPolicy.tumbling("10 seconds")) { wb =>
      batches.synchronized { batches += wb }; ()
    }
    t.publish(Seq(
      EventEnvelope.at(ts(1), 10),
      EventEnvelope.at(ts(2), 20),
      EventEnvelope.at(ts(15), 99))) // trigger
    sub.drain()
    sub.close()
    assert(batches.map(_.events) == Seq(Seq(10, 20)))
    // merged stamp = min/max of member events
    assert(batches.head.stamp.start_time == ts(1))
    assert(batches.head.stamp.end_time == ts(2))
    ps.close()
  }

  test("subscribeBatch with tumbling policy delivers empty windows " +
      "between distant events") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("tbatch-gap")
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val sub = ps.subscribeBatch(t.stream,
      TemporalWindowPolicy.tumbling("10 seconds")) { wb =>
      batches.synchronized { batches += wb }; ()
    }
    t.publish(Seq(
      EventEnvelope.at(ts(1), 10),
      EventEnvelope.at(ts(35), 20),
      EventEnvelope.at(ts(41), 99))) // trigger: closes [0,10)..[30,40)
    sub.drain()
    sub.close()
    val ordered = batches.sortBy(_.windowId).map(_.events)
    assert(ordered ==
      Seq(Seq(10), Seq.empty, Seq.empty, Seq(20)))
    ps.close()
  }

  test("subscribeBatchMulti: a lagging input holds every window open " +
      "(ref MultiTemporalWindowPolicy, selection_policy.go:385-398)") {
    val ps = new PubSub(spark)
    val a = ps.topic[Int]("multi-a")
    val b = ps.topic[Int]("multi-b")
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val sub = ps.subscribeBatchMulti(Seq(a.stream, b.stream),
      TemporalWindowPolicy.tumbling("10 seconds")) { wb =>
      batches.synchronized { batches += wb }; ()
    }
    a.publish(Seq(EventEnvelope.at(ts(1), 10),
      EventEnvelope.at(ts(25), 99))) // A passed ends 10s and 20s
    b.publish(Seq(EventEnvelope.at(ts(2), 20)))
    sub.drain()
    assert(batches.synchronized(batches.isEmpty),
      s"fired with input B still inside the window: $batches")
    b.publish(Seq(EventEnvelope.at(ts(21), 98))) // B passes end 20s too
    sub.drain()
    sub.close()
    val ordered = batches.synchronized(batches.sortBy(_.windowId))
    // both inputs past 20s -> [0,10) and [10,20) close, fan-in members
    assert(ordered.map(_.events.sorted) == Seq(Seq(10, 20), Seq.empty))
    ps.close()
  }

  test("window batch meta union: later event wins on key collision") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("tmeta")
    val batches = mutable.Buffer.empty[WindowBatch[Int]]
    val sub = ps.subscribeBatch(t.stream,
      TemporalWindowPolicy.tumbling("10 seconds")) { wb =>
      batches.synchronized { batches += wb }; ()
    }
    t.publish(Seq(
      EventEnvelope.at(ts(1), 1, Map("k" -> "early", "only1" -> "a")),
      EventEnvelope.at(ts(3), 2, Map("k" -> "late", "only2" -> "b")),
      EventEnvelope.at(ts(15), 99))) // trigger
    sub.drain(); sub.close()
    assert(batches.size == 1)
    assert(batches.head.stamp.meta ==
      Map("k" -> "late", "only1" -> "a", "only2" -> "b"))
    ps.close()
  }

  test("subscribeBatch with counting policy and SelectNext") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("cbatch")
    val counting = mutable.Buffer.empty[Seq[Int]]
    val singles = mutable.Buffer.empty[Seq[Int]]
    val s1 = ps.subscribeBatch(t.stream, CountingWindowPolicy(2, 2)) { wb =>
      counting.synchronized { counting += wb.events }; ()
    }
    val s2 = ps.subscribeBatch(t.stream, SelectNext) { wb =>
      singles.synchronized { singles += wb.events }; ()
    }
    t.publish((1 to 4).map(i => EventEnvelope.at(ts(i), i)))
    s1.drain(); s2.drain()
    s1.close(); s2.close()
    assert(counting.toSeq == Seq(Seq(1, 2), Seq(3, 4)))
    assert(singles.toSeq == Seq(Seq(1), Seq(2), Seq(3), Seq(4)))
    ps.close()
  }

  test("stream-stream windowed inner join on (key, bucket)") {
    val ps = new PubSub(spark)
    val lt = ps.topic[Int]("join-l")
    val rt = ps.topic[Int]("join-r")
    val l = lt.stream.toDF()
      .select(col("content").as("k"), col("stamp.start_time").as("lts"))
    val r = rt.stream.toDF()
      .select(col("content").as("k"), col("stamp.start_time").as("rts"))
    val joined = StreamJoins.windowedInner(l, r, "k", "lts", "rts",
      "10 seconds")
    val got = runToCompletion(joined) { () =>
      lt.publish(Seq(EventEnvelope.at(ts(1), 7),
        EventEnvelope.at(ts(25), 99)))
      rt.publish(Seq(EventEnvelope.at(ts(3), 7),   // same bucket as l@1
        EventEnvelope.at(ts(12), 7),               // different bucket
        EventEnvelope.at(ts(25), 98)))
    } { rows => rows.map(_.getAs[Int]("k")).toSeq }
    assert(got == Seq(7)) // one pair: k=7 in bucket [0,10)
    ps.close()
  }

  test("stream-stream left-outer join emits unmatched left on close") {
    val ps = new PubSub(spark)
    val lt = ps.topic[Int]("ljoin-l")
    val rt = ps.topic[Int]("ljoin-r")
    val l = lt.stream.toDF()
      .select(col("content").as("k"), col("stamp.start_time").as("lts"))
    val r = rt.stream.toDF()
      .select(col("content").as("k"), col("stamp.start_time").as("rts"))
    val joined = StreamJoins.windowedLeftOuter(l, r, "k", "lts", "rts",
      "10 seconds")
    val got = runToCompletion(joined) { () =>
      lt.publish(Seq(
        EventEnvelope.at(ts(1), 7),    // will match
        EventEnvelope.at(ts(2), 8),    // no right partner
        EventEnvelope.at(ts(40), 99))) // trigger to advance watermark
      rt.publish(Seq(
        EventEnvelope.at(ts(3), 7),
        EventEnvelope.at(ts(40), 98)))
    } { rows =>
      rows.map(r => (r.getAs[Int]("k"),
        Option(r.getAs[Timestamp]("rts")).isDefined)).toMap
    }
    assert(got.get(7).contains(true))  // matched pair
    assert(got.get(8).contains(false)) // left passed through, NULL right
    ps.close()
  }
}
