package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Control plane, metrics, and migration specs (reference:
  * pkg/pubsub/config_test.go, stream metric test stream_test.go:275-300,
  * migration test pub_sub_test.go:136-166).
  */
class ControlPlaneSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)
  private def envs[T](values: Seq[T]): Seq[EventEnvelope[T]] =
    values.zipWithIndex.map { case (v, i) => EventEnvelope.at(ts(i), v) }

  test("selection policy JSON round-trips (ref config_test)") {
    val ps = Seq(SelectNext, CountingWindowPolicy(5, 3),
      TemporalWindowPolicy("600 seconds", "300 seconds"),
      TemporalWindowPolicy("600 seconds", "300 seconds", "60 seconds"))
    ps.foreach { p =>
      assert(SelectionPolicy.fromJson(SelectionPolicy.toJson(p)) == p)
    }
    // configs written before the lateness knob existed parse to the
    // reference-parity default (drop truly-late events)
    val legacy = """{"type":"TemporalWindow","length":"600 seconds",""" +
      """"slide":"300 seconds"}"""
    assert(SelectionPolicy.fromJson(legacy) ==
      TemporalWindowPolicy("600 seconds", "300 seconds", "0 seconds"))
  }

  test("selection policy YAML round-trips (ref selection_policy.go:335-348)") {
    val ps = Seq(SelectNext, CountingWindowPolicy(5, 3),
      TemporalWindowPolicy("600 seconds", "300 seconds"))
    ps.foreach { p =>
      assert(SelectionPolicy.fromYaml(SelectionPolicy.toYaml(p)) == p)
    }
    // hand-written YAML, the form a config file would carry
    val y = "type: CountingWindow\nsize: 4\nslide: 2\n"
    assert(SelectionPolicy.fromYaml(y) == CountingWindowPolicy(4, 2))
  }

  test("query config YAML parses and cross-round-trips with JSON") {
    val yaml =
      """source:
        |  topic: cfg-yaml
        |  type: double
        |operators:
        |  - op: greater
        |    arg: "10"
        |  - op: even
        |policy:
        |  type: TemporalWindow
        |  length: 600 seconds
        |  slide: 300 seconds
        |  lateness: 60 seconds
        |""".stripMargin
    val cfg = ControlPlane.parseYaml(yaml)
    assert(cfg.source.topic == "cfg-yaml")
    assert(cfg.operators.map(_.op) == Seq("greater", "even"))
    assert(cfg.policy.contains(
      TemporalWindowPolicy("600 seconds", "300 seconds", "60 seconds")))
    // YAML -> config -> YAML -> config and YAML -> config -> JSON -> config
    assert(ControlPlane.parseYaml(ControlPlane.toYaml(cfg)) == cfg)
    assert(ControlPlane.parse(ControlPlane.toJson(cfg)) == cfg)
  }

  test("query config JSON parses, round-trips and builds a live query") {
    val json =
      """{"source":{"topic":"cfg-nums","type":"double"},
         |"operators":[{"op":"greater","arg":"10"},{"op":"even"}],
         |"policy":{"type":"CountingWindow","size":2,"slide":2}}"""
        .stripMargin.replace("\n", "")
    val cfg = ControlPlane.parse(json)
    assert(cfg.source.topic == "cfg-nums")
    assert(cfg.operators.map(_.op) == Seq("greater", "even"))
    assert(cfg.policy.contains(CountingWindowPolicy(2, 2)))
    assert(ControlPlane.parse(ControlPlane.toJson(cfg)) == cfg)

    val ps = new PubSub(spark)
    val received = mutable.Buffer.empty[Double]
    val q = ControlPlane.build(ps, cfg)
      .asInstanceOf[ContinuousQuery[Double]]
      .subscribe(evs => received.synchronized {
        received ++= evs.map(_.content)
      })
      .run()
    ps.topic[Double]("cfg-nums").publish(
      envs(Seq(4.0, 12.2, 13.0, 14.9, 20.0)))
    q.drain(); q.close()
    // > 10 then even(trunc): 12.2 (12), 14.9 (14), 20.0
    assert(received.sorted == List(12.2, 14.9, 20.0))
    ps.close()
  }

  test("string-typed config pipeline: contains + tokenize") {
    val cfg = ControlPlane.parse(
      """{"source":{"topic":"cfg-str","type":"string"},
         |"operators":[{"op":"contains","arg":"keep"},{"op":"tokenize"}]}"""
        .stripMargin.replace("\n", ""))
    val ps = new PubSub(spark)
    val received = mutable.Buffer.empty[String]
    val q = ControlPlane.build(ps, cfg)
      .asInstanceOf[ContinuousQuery[String]]
      .subscribe(evs => received.synchronized {
        received ++= evs.map(_.content)
      })
      .run()
    ps.topic[String]("cfg-str").publish(envs(Seq(
      "keep these words", "drop me entirely")))
    q.drain(); q.close()
    assert(received.sorted == List("keep", "these", "words"))
    ps.close()
  }

  test("json ingestion: JSON strings become map events (ref event.go:54-62)") {
    import spark.implicits._
    val df = Seq("""{"a": "1", "b": "x"}""", """{"a": "2"}""").toDF("js")
    val out = graft.sources.EventSources.jsonToMapEvent(df, "js")
      .select("content").as[Map[String, String]].collect()
    assert(out.toSet ==
      Set(Map("a" -> "1", "b" -> "x"), Map("a" -> "2")))
  }

  test("existingTopic: type mismatch is an error, match resolves") {
    val ps = new PubSub(spark)
    ps.topic[Int]("typed-t")
    assert(ps.existingTopic[Int]("typed-t").eventsIn == 0)
    assertThrows[StreamTypeMismatchException](
      ps.existingTopic[String]("typed-t"))
    assertThrows[NoSuchElementException](
      ps.existingTopic[Int]("never-created"))
    // explicit removal (reference auto-removes on last detach)
    assert(ps.removeTopic[Int]("typed-t"))
    assert(!ps.removeTopic[Int]("typed-t"))
    assertThrows[NoSuchElementException](ps.existingTopic[Int]("typed-t"))
    ps.close()
  }

  test("dynamic map events flow through a typed topic end-to-end") {
    val ps = new PubSub(spark)
    val t = ps.topic[Map[String, String]]("json-events")
    val received = mutable.Buffer.empty[Option[String]]
    // SelectFromMap over dynamic payloads (reference NewEventFromJSON ->
    // map event -> SelectFromMap, default_operators.go:81-101)
    val op = TypedOps.map[Map[String, String], Option[String]](_.get("k"))
    val sub = ps.subscribe(op(t.stream)) { evs =>
      received.synchronized { received ++= evs.map(_.content) }; ()
    }
    t.publish(Seq(
      EventEnvelope.at(ts(0), Map("k" -> "v1", "x" -> "y")),
      EventEnvelope.at(ts(1), Map("other" -> "z"))))
    sub.drain(); sub.close()
    assert(received.toSet == Set(Some("v1"), None))
    ps.close()
  }

  test("metrics listener counts input rows per query") {
    val ps = new PubSub(spark)
    val metrics = Metrics.install(spark)
    val t = ps.topic[Int]("metered")
    val sub = ps.subscribe(t.stream)(_ => ())
    t.publish(envs(1 to 42))
    sub.drain()
    // listener events are async — drain delivers them with a short lag
    val deadline = System.currentTimeMillis() + 10000
    while (metrics.totalEventsIn < 42 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    sub.close()
    assert(metrics.totalEventsIn >= 42)
    assert(t.eventsIn == 42)
    ps.close()
    spark.streams.removeListener(metrics)
  }

  test("metrics listener keeps each query's batch phase durations") {
    val ps = new PubSub(spark)
    val metrics = Metrics.install(spark)
    val t = ps.topic[Int]("phased")
    val before = spark.streams.active.map(_.id).toSet
    val sub = ps.subscribe(t.stream)(_ => ())
    val id = (spark.streams.active.map(_.id).toSet -- before).head
    (1 to 3).foreach { i => t.publish(envs(Seq(i))); sub.drain() }
    val deadline = System.currentTimeMillis() + 10000
    while (!metrics.phases(id).get("addBatch").exists(_.samples >= 3) &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    sub.close()
    val ph = metrics.phases(id)
    assert(ph.keySet == MetricsListener.Phases.toSet)
    ph.values.foreach { s =>
      assert(s.samples >= 3 && s.lastMs >= 0 && s.medianMs >= 0, ph)
    }
    // every batch's trigger contains its sink call, so the medians agree
    assert(ph("triggerExecution").medianMs >= ph("addBatch").medianMs)
    assert(metrics.phases(java.util.UUID.randomUUID()).isEmpty)
    ps.close()
    spark.streams.removeListener(metrics)
  }

  test("restart resumes from committed offsets — no event loss or dup") {
    val ps = new PubSub(spark)
    val received = mutable.Buffer.empty[Int]
    val q = QueryBuilder[Int](ps)
      .from("migrate-me")
      .connectTo(TypedOps.filter[Int](_ => true))
      .build()
      .subscribe(evs => received.synchronized {
        received ++= evs.map(_.content)
      })
      .run()
    val t = ps.topic[Int]("migrate-me")
    t.publish(envs(1 to 5))
    q.drain()
    q.restart() // drain-stop-restart (hot migration analogue)
    t.publish(Seq(EventEnvelope.at(ts(10), 6), EventEnvelope.at(ts(11), 7)))
    q.drain()
    q.close()
    assert(received.sorted == (1 to 7).toList)
    ps.close()
  }
}
