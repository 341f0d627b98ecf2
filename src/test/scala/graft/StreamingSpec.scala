package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EventEnvelope, Stamp}
import graft.streaming._

/** Streaming behavior parity tests, mirroring the reference's Ginkgo
  * suites (reference: pkg/processing/default_operators_test.go,
  * pkg/events/selection_policy_test.go, pkg/pubsub/pub_sub_test.go) with
  * processAllAvailable() standing in for Gomega Eventually (SURVEY §5).
  */
class StreamingSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  private def envs[T](values: Seq[T]): Seq[EventEnvelope[T]] =
    values.zipWithIndex.map { case (v, i) => EventEnvelope.at(ts(i), v) }

  /** Run a windowed stateful op to completion and collect its output. */
  private def collectWindows[T](
      wins: Dataset[WindowBatch[T]],
      publish: () => Unit): Seq[WindowBatch[T]] = {
    val buf = mutable.Buffer.empty[WindowBatch[T]]
    val q = wins.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[T]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    publish()
    q.processAllAvailable()
    q.stop()
    buf.toSeq.sortBy(_.windowId)
  }

  // README hello query (reference: README.md:62-74): numbers -> Smaller(50)
  test("builder hello query: source -> smaller(50) -> subscribe") {
    val ps = new PubSub(spark)
    val received = mutable.Buffer.empty[Int]
    val q = QueryBuilder[Int](ps)
      .from("numbers")
      .connectTo(TypedOps.smaller(50))
      .build()
      .subscribe(evs => received.synchronized {
        received ++= evs.map(_.content)
      })
      .run()
    ps.topic[Int]("numbers").publish(envs(1 to 100))
    q.drain()
    q.close()
    assert(received.sorted == (1 until 50).toList)
    ps.close()
  }

  test("fan-in: two sources union into one query") {
    val ps = new PubSub(spark)
    val received = mutable.Buffer.empty[Int]
    val q = QueryBuilder[Int](ps)
      .from("in-a").from("in-b")
      .connectTo(TypedOps.even[Int])
      .build()
      .subscribe(evs => received.synchronized {
        received ++= evs.map(_.content)
      })
      .run()
    ps.topic[Int]("in-a").publish(envs(Seq(1, 2, 3)))
    ps.topic[Int]("in-b").publish(envs(Seq(4, 5, 6)))
    q.drain()
    q.close()
    assert(received.sorted == List(2, 4, 6))
    ps.close()
  }

  test("fan-in: one drained batch reaches the callback in event-time " +
      "order across partitions, ties in input order") {
    val ps = new PubSub(spark)
    val batches = mutable.Buffer.empty[Seq[String]]
    val cq = QueryBuilder[String](ps)
      .from("order-a").from("order-b")
      .connectTo(TypedOps.filter[String](_ => true))
      .build()
      .subscribe(evs => batches.synchronized {
        batches += evs.map(_.content)
      })
    val a = ps.topic[String]("order-a")
    val b = ps.topic[String]("order-b")
    def at(sec: Int, v: String) = EventEnvelope.at(ts(sec), v)
    // published before run(): every publish is its own input partition,
    // a's two before b's two (union order), and the first batch holds all
    a.publish(Seq(at(3, "a0"), at(1, "a1")))
    b.publish(Seq(at(2, "b0"), at(1, "b1")))
    a.publish(Seq(at(2, "a2"), at(4, "a3")))
    b.publish(Seq(at(3, "b2"), at(0, "b3")))
    cq.run()
    cq.drain()
    cq.close()
    assert(batches.toList ==
      List(Seq("b3", "a1", "b1", "a2", "b0", "a0", "b2", "a3")))
    ps.close()
  }

  test("ambiguous output: build() with multi-stream frontier fails") {
    val ps = new PubSub(spark)
    val b = QueryBuilder[Int](ps).from("x1").from("x2")
    assertThrows[IllegalStateException](b.build())
    ps.close()
  }

  test("typed topics: same name, different content types coexist") {
    val ps = new PubSub(spark)
    val ti = ps.topic[Int]("shared")
    val td = ps.topic[Double]("shared")
    ti.publishValues(1, 2)
    td.publishValues(1.5)
    assert(ti.eventsIn == 2 && td.eventsIn == 1)
    ps.close()
  }

  // Counting windows (reference: selection_policy_test.go:67-95)
  test("counting window tumbling (n=3, shift=3)") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("cw-tumble")
    val wins = StatefulOps.countingWindows[Int](3, 3)(t.stream)
    val got = collectWindows(wins, () => t.publish(envs(1 to 7)))
    assert(got.map(_.events) == Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    // merged stamp spans the window's inputs (timestamper.go:22-50)
    assert(got.head.stamp.start_time == ts(0))
    assert(got.head.stamp.end_time == ts(2))
    ps.close()
  }

  test("counting window overlapping (n=3, shift=1) re-delivers events") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("cw-overlap")
    val wins = StatefulOps.countingWindows[Int](3, 1)(t.stream)
    val got = collectWindows(wins, () => t.publish(envs(1 to 5)))
    assert(got.map(_.events) ==
      Seq(Seq(1, 2, 3), Seq(2, 3, 4), Seq(3, 4, 5)))
    ps.close()
  }

  test("counting window skipping (n=2, shift=3) drops gap events") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("cw-skip")
    val wins = StatefulOps.countingWindows[Int](2, 3)(t.stream)
    val got = collectWindows(wins, () => t.publish(envs(1 to 8)))
    assert(got.map(_.events) == Seq(Seq(1, 2), Seq(4, 5), Seq(7, 8)))
    ps.close()
  }

  test("counting window state spans micro-batches") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("cw-batches")
    val wins = StatefulOps.countingWindows[Int](3, 3)(t.stream)
    val buf = mutable.Buffer.empty[WindowBatch[Int]]
    val q = wins.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[Int]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    t.publish(envs(1 to 2)) // incomplete window
    q.processAllAvailable()
    assert(buf.isEmpty)
    t.publish(Seq(EventEnvelope.at(ts(10), 3), EventEnvelope.at(ts(11), 4)))
    q.processAllAvailable()
    q.stop()
    assert(buf.map(_.events) == Seq(Seq(1, 2, 3)))
    ps.close()
  }

  test("streaming limit passes exactly first n across batches") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("lim")
    val limited = StatefulOps.limit[Int](4)(t.stream)
    val buf = mutable.Buffer.empty[Int]
    val q = limited.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[Int]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    t.publish(envs(1 to 3))
    q.processAllAvailable()
    t.publish(Seq(EventEnvelope.at(ts(10), 4), EventEnvelope.at(ts(11), 5)))
    q.processAllAvailable()
    q.stop()
    assert(buf.sorted == List(1, 2, 3, 4))
    ps.close()
  }

  test("streaming dedup drops repeats across micro-batches and keeps " +
      "the first occurrence's stamp") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("dedup-stream")
    val deduped = TypedOps.dedupWithinWatermark[Int]("10 minutes").apply(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[Int]]
    val q = deduped.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[Int]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    // in-batch duplicate of 1
    t.publish(Seq(EventEnvelope.at(ts(0), 1), EventEnvelope.at(ts(1), 2),
      EventEnvelope.at(ts(2), 1)))
    q.processAllAvailable()
    // cross-batch duplicate of 2; 3 is new
    t.publish(Seq(EventEnvelope.at(ts(3), 2), EventEnvelope.at(ts(4), 3)))
    q.processAllAvailable()
    q.stop()
    assert(buf.map(_.content).sorted == List(1, 2, 3))
    assert(buf.find(_.content == 1).get.stamp.start_time == ts(0))
    assert(buf.find(_.content == 2).get.stamp.start_time == ts(1))
    ps.close()
  }

  test("map keeps the input stamp; flatMap with 0 outputs filters") {
    val ps = new PubSub(spark)
    val t = ps.topic[String]("fm")
    val op = TypedOps.flatMap[String, String](s =>
      if (s.startsWith("drop")) Seq.empty else s.split("-").toSeq)
    val out = op(t.stream)
    val buf = mutable.Buffer.empty[EventEnvelope[String]]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    t.publish(Seq(EventEnvelope.at(ts(0), "a-b"), EventEnvelope.at(ts(1), "drop-me")))
    q.processAllAvailable()
    q.stop()
    assert(buf.map(_.content).sorted == List("a", "b"))
    assert(buf.forall(_.stamp.start_time == ts(0)))
    ps.close()
  }

  test("observe taps every event and passes through; convert casts") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("obs")
    // the observe closure is serialized into tasks, so its side effect
    // lands in the EXECUTOR JVM (the documented Observe semantics). The
    // cluster-correct tap channel is an accumulator: executor-side adds
    // propagate to the driver on task completion in every deployment
    // mode — a JVM-static singleton (this test's pre-r14 form) only
    // appears to work under local[n]'s shared JVM and silently observes
    // nothing under local-cluster / a real cluster.
    val tapped = spark.sparkContext.collectionAccumulator[Int]("obs-tap")
    val q = QueryBuilder[Int](ps)
      .fromDataset(t.stream)
      .connectTo(TypedOps.observe[Int](tapped.add(_)))
      .connectTo(TypedOps.convert[Int, Double](_.toDouble / 2))
      .build()
    val received = mutable.Buffer.empty[Double]
    q.subscribe(evs => received.synchronized {
      received ++= evs.map(_.content)
    }).run()
    t.publish(envs(Seq(2, 4)))
    q.drain(); q.close()
    assert(received.sorted == List(1.0, 2.0))
    assert(tapped.value.toArray.toList
      .map(_.asInstanceOf[Int]).sorted == List(2, 4))
    ps.close()
  }

  test("stamp merge: min start, max end, later-wins meta") {
    val a = Stamp(ts(0), ts(1), Map("k" -> "a", "x" -> "1"))
    val b = Stamp(ts(2), ts(5), Map("k" -> "b"))
    val m = a.merge(b)
    assert(m.start_time == ts(0) && m.end_time == ts(5))
    assert(m.meta == Map("k" -> "b", "x" -> "1"))
  }
}

