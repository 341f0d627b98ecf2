package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** Hot topic migration (reference: migrateStream, stream.go:109-123):
  * a live config swap that drains delivery first, blocks concurrent
  * publishers for its duration (no loss, no error), and leaves existing
  * publisher handles and subscriptions untouched while new default
  * subscribers observe the migrated policy.
  */
class MigrationSpec extends AnyFunSuite with LocalSparkSuite {

  test("migrate drains pending delivery, applies capacity live, and " +
      "keeps the original subscription running") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("live-migrate")
    val seen = mutable.ArrayBuffer.empty[Int]
    val sub = ps.subscribe(t.stream, owner = Some(t)) { evs =>
      seen.synchronized { seen ++= evs.map(_.content) }
    }
    val pub = ps.registerPublisher[Int]("live-migrate")
    pub.publishValues(1, 2, 3)

    ps.migrateTopic[Int]("live-migrate",
      capacity = Some(2), defaultPolicy = CountingWindowPolicy(2, 2))

    // WaitUntilDrained analogue: everything published BEFORE the migrate
    // was delivered by the time it returned.
    assert(seen.synchronized(seen.toSet) === Set(1, 2, 3))

    // The new capacity is live on the SAME topic/publisher handles.
    intercept[BufferLimitExceededException](pub.publishValues(4, 5, 6))

    // Zero downtime: the pre-migrate subscription keeps delivering.
    pub.publishValues(7, 8)
    sub.drain()
    assert(seen.synchronized(seen.toSet) === Set(1, 2, 3, 7, 8))

    // The migrated default policy governs NEW default subscribers.
    assert(t.defaultPolicy === CountingWindowPolicy(2, 2))
    val windows = mutable.ArrayBuffer.empty[Seq[Int]]
    val batchSub = ps.subscribeTopicBatch(t) { w =>
      windows.synchronized { windows += w.events }
    }
    pub.publishValues(10, 11)
    batchSub.drain()
    assert(windows.synchronized(windows.exists(_.size == 2)),
      s"expected a 2-event window from the migrated default policy, " +
        s"got ${windows.synchronized(windows.toList)}")

    batchSub.close(); sub.close(); pub.close(); ps.close()
  }

  test("a publish racing a migrate blocks until the swap and loses " +
      "nothing (ref: publish waits on the stream mutex)") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("race-migrate")
    val seen = mutable.ArrayBuffer.empty[Int]
    val sub = ps.subscribe(t.stream, owner = Some(t)) { evs =>
      seen.synchronized { seen ++= evs.map(_.content) }
    }
    val pub = ps.registerPublisher[Int]("race-migrate")
    pub.publishValues(1 to 50: _*)

    val started = new CountDownLatch(1)
    val racer = new Thread(() => {
      started.countDown()
      (51 to 100).foreach(v => pub.publishValues(v))
    })
    racer.start()
    assert(started.await(5, TimeUnit.SECONDS))
    ps.migrateTopic[Int]("race-migrate", capacity = None,
      defaultPolicy = SelectNext)
    racer.join(30000)
    assert(!racer.isAlive)

    sub.drain()
    // exactly-once, no loss: every publish before/during/after the
    // migrate arrives exactly once
    val got = seen.synchronized(seen.toList)
    assert(got.sorted === (1 to 100).toList,
      s"lost or duplicated events; got ${got.size} values")

    sub.close(); pub.close(); ps.close()
  }

  test("closed subscriptions are pruned from the registry and a migrate " +
      "skips terminated queries instead of aborting") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("prune-migrate")
    val seen = mutable.ArrayBuffer.empty[Int]
    val live = ps.subscribe(t.stream, owner = Some(t)) { evs =>
      seen.synchronized { seen ++= evs.map(_.content) }
    }
    val doomed = ps.subscribe(t.stream, owner = Some(t)) { _ => () }
    assert(ps.subscriptionCount === 2)

    // close() must prune: later drains/teardown never iterate dead subs
    doomed.close()
    assert(ps.subscriptionCount === 1)

    // a subscription whose query terminated WITHOUT going through
    // close() (crash analogue) stays registered — the migrate drain
    // must skip it via isActive rather than rethrow from
    // processAllAvailable and abort the config swap
    val before = spark.streams.active.map(_.id).toSet
    val stopped = ps.subscribe(t.stream, owner = Some(t)) { _ => () }
    spark.streams.active.filterNot(q => before(q.id)).foreach(_.stop())

    val pub = ps.registerPublisher[Int]("prune-migrate")
    pub.publishValues(1, 2, 3)
    ps.migrateTopic[Int]("prune-migrate",
      capacity = Some(100), defaultPolicy = SelectNext)
    // the live subscription was drained by the barrier despite the dead
    // one sitting next to it in the registry
    assert(seen.synchronized(seen.toSet) === Set(1, 2, 3))

    stopped.close(); live.close(); pub.close()
    assert(ps.subscriptionCount === 0)
    ps.close()
  }

  test("a subscription that terminated WITH AN ERROR does not abort a " +
      "live migrate: the barrier skips it and the swap still applies") {
    val ps = new PubSub(spark)
    val t = ps.createTopic[Int]("errored-migrate")
    val seen = mutable.ArrayBuffer.empty[Int]
    val live = ps.subscribe(t.stream, owner = Some(t)) { evs =>
      seen.synchronized { seen ++= evs.map(_.content) }
    }
    // an operator chain that dies on a poison value: its query
    // terminates with a StreamingQueryException — a crash, not a
    // close() — and stays in the registry
    import spark.implicits._
    val poisoned = t.stream.map { e =>
      if (e.content == 13)
        throw new RuntimeException("poison event")
      e
    }
    val before = spark.streams.active.map(_.id).toSet
    val errored = ps.subscribe(poisoned, owner = Some(t)) { _ => () }
    val erroredId =
      spark.streams.active.map(_.id).filterNot(before).head

    val pub = ps.registerPublisher[Int]("errored-migrate")
    pub.publishValues(13)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.id == erroredId) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(!spark.streams.active.exists(_.id == erroredId),
      "poisoned query did not terminate with its error")

    pub.publishValues(1, 2, 3)
    // must not rethrow the dead subscriber's StreamingQueryException:
    // the barrier drains the live subscription and the config swaps
    ps.migrateTopic[Int]("errored-migrate",
      capacity = Some(50), defaultPolicy = CountingWindowPolicy(3, 3))
    assert(seen.synchronized(seen.toSet) === Set(13, 1, 2, 3))
    assert(t.defaultPolicy === CountingWindowPolicy(3, 3))
    intercept[BufferLimitExceededException](
      pub.publishValues(1 to 51: _*))

    // close() on the errored subscription rethrows its failure (stop()
    // surfaces the terminal exception) but must still detach/unregister
    try errored.close() catch { case _: Exception => () }
    live.close(); pub.close()
    assert(ps.subscriptionCount === 0)
    ps.close()
  }
}
