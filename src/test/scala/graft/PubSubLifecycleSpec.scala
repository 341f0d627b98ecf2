package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Topic lifecycle parity with the reference repository semantics:
  * auto-cleanup on last detach (pub_sub_test.go:55-70), tryRemove
  * blocked by attached publishers/subscribers (pub_sub_test.go:187-216),
  * and manual lifecycle for explicitly created streams (config.go:27).
  */
class PubSubLifecycleSpec extends AnyFunSuite with LocalSparkSuite {

  test("auto-created topic is cleaned when its last subscriber detaches " +
      "(ref pub_sub_test.go:55-70)") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("auto-clean")
    assert(t.autoCleanup)
    assert(ps.topicCount == 1)
    val sub = ps.subscribe(t.stream, owner = Some(t)) { _ => () }
    t.publishValues(1, 2, 3)
    sub.drain()
    assert(ps.topicCount == 1) // pinned while subscribed
    sub.close()
    assert(ps.topicCount == 0) // removed on last detach
    ps.close()
  }

  test("open publisher handle blocks tryRemove; closing the last handle " +
      "auto-cleans (ref pub_sub_test.go:193-203)") {
    val ps = new PubSub(spark)
    val p1 = ps.registerPublisher[Int]("pub-pinned")
    val p2 = ps.registerPublisher[Int]("pub-pinned")
    assert(ps.topicCount == 1)
    assert(!ps.tryRemoveTopic[Int]("pub-pinned")) // attached: no-op
    p1.close()
    p1.close() // idempotent: must not double-detach
    assert(ps.topicCount == 1) // p2 still pins it
    p2.close()
    assert(ps.topicCount == 0) // last handle detached -> auto-clean
    ps.close()
  }

  test("publishing through a closed handle errors " +
      "(ref error-after-unregister, pub_sub.go:253-286)") {
    val ps = new PubSub(spark)
    val p = ps.registerPublisher[Int]("pub-closed")
    p.publishValues(1)
    p.close() // last handle: topic auto-cleans
    intercept[IllegalStateException](p.publishValues(2))
    intercept[IllegalStateException](
      p.publish(Seq(EventEnvelope.of(3))))
    ps.close()
  }

  test("tryRemove succeeds on a detached topic (ref pub_sub_test.go:187-192)") {
    val ps = new PubSub(spark)
    ps.createTopic[Int]("try-close-1")
    assert(ps.tryRemoveTopic[Int]("try-close-1"))
    assert(ps.topicCount == 0)
    ps.close()
  }

  test("explicitly created topic has a manual lifecycle") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("manual")
    assert(!t.autoCleanup)
    val p = ps.registerPublisher[Int]("manual")
    p.publish(Seq(EventEnvelope.of(1)))
    p.close()
    assert(ps.topicCount == 1) // survives last detach
    assert(ps.removeTopic[Int]("manual"))
    assert(ps.topicCount == 0)
    ps.close()
  }

  test("a throwing subscriber callback is recovered — later batches " +
      "still deliver (ref subscriber.go:122-133)") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("panicky")
    val received = scala.collection.mutable.Buffer.empty[Int]
    var first = true
    val sub = ps.subscribe(t.stream) { evs =>
      received.synchronized { received ++= evs.map(_.content) }
      if (first) { first = false; sys.error("subscriber panic") }
    }
    t.publishValues(1, 2)
    sub.drain() // callback throws here; query must survive
    t.publishValues(3, 4)
    sub.drain()
    // delivery after the throw proves the query survived
    assert(received.sorted == Seq(1, 2, 3, 4))
    sub.close()
    ps.close()
  }

  test("publish above topic capacity errors; topic stays usable " +
      "(ref buffer.go:514-520 ErrLimitExceeded)") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("bounded", capacity = Some(3))
    intercept[BufferLimitExceededException] {
      t.publishValues(1, 2, 3, 4)
    }
    assert(t.eventsIn == 0) // rejected batch left no partial state
    t.publishValues(1, 2, 3) // at capacity: accepted
    assert(t.eventsIn == 3)
    ps.close()
  }

  test("closing a subscription releases its topic consumer from publish " +
      "fan-out (dead-consumer leak)") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("consumer-release")
    assert(t.consumerCount == 0)
    // an operator chain over the stream still maps back to its consumer
    val s1 = ps.subscribe(TypedOps.greater(1).apply(t.stream)) { _ => () }
    val s2 = ps.subscribe(t.stream) { _ => () }
    assert(t.consumerCount == 2)
    t.publishValues(1, 2, 3)
    s1.drain(); s2.drain()
    s1.close()
    assert(t.consumerCount == 1) // s1's consumer detached from fan-out
    // the surviving subscription keeps receiving post-close publishes
    @volatile var got = 0
    val s3 = ps.subscribe(t.stream) { rows => got += rows.size }
    t.publishValues(4, 5)
    s3.drain()
    assert(got == 5) // 3 history + 2 live
    s2.close(); s3.close()
    assert(t.consumerCount == 0)
    ps.close()
  }

  test("closing a subscription removes its callback from the sink " +
      "registry on every path") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("sink-release")
    val before = SinkProbe.registered
    val s1 = ps.subscribe(t.stream) { _ => () }
    assert(SinkProbe.registered == before + 1)
    s1.close()
    assert(SinkProbe.registered == before)

    val s2 = ps.subscribeBatch(t.stream, CountingWindowPolicy(2, 2)) { _ => () }
    t.publishValues(1, 2)
    s2.drain()
    s2.close()
    assert(SinkProbe.registered == before)

    // restart closes with releaseOnClose = false, then subscribes again
    val cq = QueryBuilder[Int](ps).from("sink-release")
      .connectTo(TypedOps.filter[Int](_ => true)).build()
      .subscribe(_ => ()).run()
    cq.restart()
    assert(SinkProbe.registered == before + 1)
    cq.close()
    assert(SinkProbe.registered == before)

    // a query that died on a poison event
    import spark.implicits._
    val poisoned = t.stream.map { e =>
      if (e.content == 13) throw new RuntimeException("poison event")
      e
    }
    val s3 = ps.subscribe(poisoned) { _ => () }
    t.publishValues(13)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      s3.drain())
    s3.close()
    assert(SinkProbe.registered == before)

    // a query whose stop() throws: its callback ignores the interrupt
    // past the stop timeout (read from the session when stop() runs)
    val entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var hold = true
    val s4 = ps.subscribe(t.stream) { _ =>
      entered.countDown()
      while (hold) Thread.onSpinWait()
    }
    assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    spark.conf.set("spark.sql.streaming.stopTimeout", "200ms")
    try intercept[java.util.concurrent.TimeoutException](s4.close())
    finally {
      hold = false
      spark.conf.unset("spark.sql.streaming.stopTimeout")
    }
    assert(SinkProbe.registered == before)
    ps.close()
  }

  test("ownerless subscription over an operator chain never cleans up") {
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("chain")
    val sub = ps.subscribe(t.stream) { _ => () }
    sub.close()
    assert(ps.topicCount == 1) // no owner attachment: untouched
    ps.close()
  }
}
