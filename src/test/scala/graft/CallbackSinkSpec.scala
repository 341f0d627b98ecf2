package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** The sink behind every subscription binds its deserializer once per
  * subscription, not once per micro-batch, and is the sink the running
  * query reports — a fallback to `foreachBatch` or a per-batch rebind
  * fails here.
  */
class CallbackSinkSpec extends AnyFunSuite with LocalSparkSuite {

  test("subscribe and subscribeBatch bind one deserializer each across " +
      "five rounds, through the graft sink") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("bind-once")
    val events = mutable.Buffer.empty[Int]
    val windows = mutable.Buffer.empty[Seq[Int]]
    val sub = ps.subscribe(t.stream) { evs =>
      events.synchronized { events ++= evs.map(_.content) }
    }
    val batches = ps.subscribeBatch(t.stream, SelectNext) { w =>
      windows.synchronized { windows += w.events }
    }
    (1 to 5).foreach { i =>
      t.publishValues(i)
      sub.drain(); batches.drain()
    }
    assert(events.toList == (1 to 5).toList)
    assert(windows.toList == (1 to 5).map(Seq(_)).toList)
    for (s <- Seq(sub, batches)) {
      assert(SinkProbe.binds(s) == 1)
      assert(SinkProbe.reportedSink(s) == SinkProbe.graftSink(s))
      assert(SinkProbe.reportedSink(s).startsWith("GraftCallbackSink["))
    }
    sub.close(); batches.close()
    ps.close()
  }

  test("without a checkpoint location a subscription gets a temporary " +
      "one, deleted on close") {
    val key = "spark.sql.streaming.checkpointLocation"
    val base = spark.conf.get(key)
    spark.conf.unset(key)
    val ps = new PubSub(spark)
    try {
      val t = ps.topic[Int]("no-checkpoint")
      val got = mutable.Buffer.empty[Int]
      val sub = ps.subscribe(t.stream) { evs =>
        got.synchronized { got ++= evs.map(_.content) }
      }
      t.publishValues(1, 2, 3)
      sub.drain()
      val root = new java.io.File(new java.net.URI(SinkProbe.checkpointRoot(sub)))
      assert(root.getName.startsWith("graft-subscription-") && root.isDirectory)
      sub.close()
      assert(got.toList == List(1, 2, 3))
      assert(!root.exists())
    } finally {
      ps.close()
      spark.conf.set(key, base)
    }
  }
}
