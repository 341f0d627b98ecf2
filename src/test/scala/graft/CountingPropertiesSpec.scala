package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Windows

/** Property-style cross-validation of the batch counting-window operator
  * against a direct executable model of the reference's
  * CountingWindowPolicy (reference: selection_policy.go:122-176; window w
  * holds rows [w*shift, w*shift+n) and fires iff w*shift+n <= total).
  * Sweeps a seeded sample of (n, shift, total) shapes covering tumbling,
  * overlapping, skipping, empty, and sub-window inputs.
  */
class CountingPropertiesSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  /** The reference semantics, as a pure function. */
  private def model(total: Int, n: Int, shift: Int): Map[Long, Seq[Long]] =
    Iterator.from(0)
      .map(w => w.toLong -> (w * shift until w * shift + n).map(_.toLong))
      .takeWhile { case (w, _) => w * shift + n <= total }
      .toMap

  test("counting window state survives a checkpointed restart: no window " +
      "re-fired or skipped") {
    import java.sql.Timestamp
    import graft.core.EventEnvelope
    import graft.streaming._
    val ps = new PubSub(spark)
    val topic = ps.topic[Int]("counting-restart")
    val wins = StatefulOps.countingWindows[Int](3, 3)(topic.stream)
    val ckpt = tempPath("ckpt-cr")
    val fired = scala.collection.mutable.Buffer.empty[(Long, Seq[Int])]
    def start() = wins.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[WindowBatch[Int]],
          _: Long) =>
        fired.synchronized {
          fired ++= b.collect().map(w => w.windowId -> w.events)
        }; ()
      }.start()
    val base = 1700000000000L
    def at(i: Int) = EventEnvelope.at(new Timestamp(base + i * 1000L), i)
    val q1 = start()
    topic.publish((1 to 4).map(at)) // fires window 0 = [1,2,3]; buffers 4
    q1.processAllAvailable()
    q1.stop()
    // restart mid-window: recovered state must carry (seen=4, head, win)
    val q2 = start()
    topic.publish((5 to 7).map(at)) // fires window 1 = [4,5,6]; buffers 7
    q2.processAllAvailable()
    topic.publish((8 to 9).map(at)) // fires window 2 = [7,8,9]
    q2.processAllAvailable()
    q2.stop()
    val ordered = fired.synchronized(fired.sortBy(_._1))
    // lost state would re-fire [?] or skip the straddling window [4,5,6]
    assert(ordered == Seq(
      0L -> Seq(1, 2, 3), 1L -> Seq(4, 5, 6), 2L -> Seq(7, 8, 9)))
    ps.close()
  }

  test("keyed counting windows also survive a checkpointed restart") {
    import java.sql.Timestamp
    import graft.core.EventEnvelope
    import graft.streaming._
    val ps = new PubSub(spark)
    val topic = ps.topic[Int]("counting-restart-keyed")
    val wins = StatefulOps.countingWindowsByKey[Int](2, 2)(
      e => if (e.content % 2 == 0) "even" else "odd")(topic.stream)
    val ckpt = tempPath("ckpt-crk")
    val fired = scala.collection.mutable.Buffer.empty[(String, Seq[Int])]
    def start() = wins.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          (String, WindowBatch[Int])], _: Long) =>
        fired.synchronized {
          fired ++= b.collect().map { case (k, w) => k -> w.events }
        }; ()
      }.start()
    val base = 1700000000000L
    def at(i: Int) = EventEnvelope.at(new Timestamp(base + i * 1000L), i)
    val q1 = start()
    topic.publish(Seq(at(1), at(2), at(3))) // odd fires [1,3]; even buffers 2
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    topic.publish(Seq(at(4), at(5), at(7))) // even fires [2,4]; odd [5,7]
    q2.processAllAvailable()
    q2.stop()
    val byKey = fired.synchronized(fired.toList).groupBy(_._1)
      .map { case (k, ws) => k -> ws.map(_._2) }
    // lost keyed state would re-fire [1,3] or pair 4 with a later even
    assert(byKey("odd") == Seq(Seq(1, 3), Seq(5, 7)))
    assert(byKey("even") == Seq(Seq(2, 4)))
    ps.close()
  }

  test("batch and streaming counting windows agree on the same input") {
    import java.sql.Timestamp
    import graft.core.EventEnvelope
    import graft.streaming._
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("xval")
    val wins = StatefulOps.countingWindows[Int](3, 2)(t.stream)
    val got = scala.collection.mutable.Buffer.empty[(Long, Seq[Int])]
    val q = wins.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[WindowBatch[Int]], _: Long) =>
          got.synchronized {
            got ++= b.collect().map(w => (w.windowId, w.events))
          }; ()
      }.start()
    t.publish((0 until 20).map(i =>
      EventEnvelope.at(new Timestamp(1700000000000L + i * 1000L), i)))
    q.processAllAvailable()
    q.stop()
    val streaming = got.sortBy(_._1).toList

    val df = (0 until 20).map(i => (i.toLong, i)).toDF("id", "v")
    val batch = Windows.countingWindowAgg(Seq(col("id")), 3, 2)(
      Seq(sort_array(collect_list(col("v"))).as("vs")))(df)
      .select("window_id", "vs").as[(Long, Seq[Int])].collect()
      .sortBy(_._1).toList
    assert(streaming == batch)
    ps.close()
  }

  test("batch counting windows match the reference model across shapes") {
    val rng = new scala.util.Random(424242)
    val shapes =
      Seq((1, 1, 0), (1, 1, 5), (3, 3, 9), (3, 1, 7), (2, 5, 17),
        (5, 2, 5), (4, 4, 3)) ++ // hand-picked edges
        Seq.fill(20)((rng.nextInt(8) + 1, rng.nextInt(10) + 1, rng.nextInt(40)))
    shapes.foreach { case (n, shift, total) =>
      val df = (0 until total).map(_.toLong).toDF("id")
      val got = Windows.countingWindowAgg(Seq(col("id")), n, shift)(
        Seq(collect_list(col("id")).as("ids")))(df)
        .select("window_id", "ids").as[(Long, Seq[Long])].collect()
        .map { case (w, ids) => w -> ids.sorted }.toMap
      assert(got == model(total, n, shift),
        s"mismatch for n=$n shift=$shift total=$total")
    }
  }
}
