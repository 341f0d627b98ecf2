package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Approximate-distinct error bound, streaming session windows, and
  * pub/sub repository isolation (reference: isolated repositories,
  * pkg/processing/queries_test.go:75-125).
  */
class AnalyticsSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("approx_count_distinct within rsd bound of exact") {
    val df = graft.queries.Tables.load(spark, "/root/testdata/sf0.01",
      "events") // nanos-aware loader
    val (approx, exact) = df.agg(
      approx_count_distinct(col("user_id"), 0.01),
      countDistinct(col("user_id"))).as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
    // the oracled query form emits the same bound per event_type as a
    // BIGINT verdict column — pin it green over the real fixture
    val out = SparkEntry.queries("q_approx_distinct")(
      spark, "/root/testdata/sf0.01").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("within_bound") == 1L,
        s"${r.getString(0)}: sketch out of bound (exact=${r.getAs[Long]("exact_users")})")
    }
  }

  test("q_heavy_hitters: CMS estimates bound the exact token counts") {
    val dir = "/root/testdata/sf0.001"
    // QueryDef contract: CONSTRUCTING the query must not run the corpus
    // aggregation (the sketch build lives in the plan, not in a
    // construction-time collect). Parquet file-listing jobs are inherent
    // to spark.read and single-stage, so count only multi-stage
    // (shuffle-bearing) jobs.
    val shuffleJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains("hh-lazy-marker")) markerSeen.set(true)
        else if (js.stageInfos.size > 1) shuffleJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val built = SparkEntry.queries("q_heavy_hitters")(spark, dir)
        // the listener bus is async but FIFO: run a tagged marker job and
        // wait for its event — any construction-time aggregation would be
        // delivered (and counted) before it
        spark.sparkContext.setJobGroup("hh-lazy-marker", "lazy check")
        try spark.range(1).count()
        finally spark.sparkContext.clearJobGroup()
        val deadline = System.nanoTime() + 10e9.toLong
        while (!markerSeen.get() && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(markerSeen.get(), "marker job event never arrived")
        assert(shuffleJobs.get() == 0,
          s"building q_heavy_hitters ran ${shuffleJobs.get()} shuffle job(s); must be lazy")
        built
      } finally spark.sparkContext.removeSparkListener(listener)
    val est = df.as[(String, Long)].collect().toMap
    val exactAll = graft.queries.Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    val exact = exactAll.toMap
    val n = exactAll.map(_._2).sum
    assert(est.nonEmpty)
    est.foreach { case (tok, e) =>
      val x = exact(tok)
      assert(e >= x, s"CMS undercounted '$tok': $e < $x")
      assert(e - x <= 2.0 * n / 2048,
        s"'$tok' overcount ${e - x} breaks the 2N/width bound")
    }
    // every true heavy hitter clears the sketch's top-k by estimate:
    // est >= exact, so the true #1 token cannot be displaced below
    // top-k unless k-1 others legitimately estimate higher
    val trueTop = exactAll.maxBy(r => (r._2, r._1))._1
    assert(est.contains(trueTop))
    // estimate-top-20 vs exact top-20 (q_top_tokens' ranking): at this
    // vocabulary-to-width ratio collisions are rare, so the sets must
    // agree on the clear majority of slots
    val exactTop = exactAll.sortBy(r => (-r._2, r._1)).take(20).map(_._1).toSet
    val overlap = est.keySet.intersect(exactTop).size
    assert(overlap >= 15, s"estimate top-20 shares only $overlap with exact")
  }

  test("approx quantiles respect the GK rank-error bound against the " +
      "exact data") {
    val dir = "/root/testdata/sf0.01"
    // the query now emits the bound VERDICT itself (the oracled frame);
    // first pin that every verdict is green over the real fixture...
    val out = SparkEntry.queries("q_approx_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Seq(r.getLong(2), r.getLong(3), r.getLong(4)))))
      .toMap
    val byType = graft.queries.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(out.keySet == byType.keySet)
    for ((tpe, (n, oks)) <- out) {
      assert(n == byType(tpe).length, s"$tpe n=$n")
      assert(oks == Seq(1L, 1L, 1L), s"$tpe verdicts $oks")
    }
    // ...then re-derive the verdict independently: fresh GK estimates,
    // driver-side exact ranks, the same n/accuracy (+1) bound — so the
    // query's distributed rank recovery can't drift from the definition
    // without this going red.
    val est = graft.queries.Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for ((tpe, vs) <- est; (q, v) <- Seq(0.5, 0.95, 0.99).zip(vs)) {
      val sorted = byType(tpe)
      val n = sorted.length
      // GK guarantee at accuracy a: the returned value's rank is within
      // n/a of the target rank (+1 for the discrete rank convention)
      val rank = sorted.count(_ <= v)
      assert(math.abs(rank - q * n) <= n / 10000.0 + 1.0,
        s"$tpe p$q estimate $v has rank $rank, target ${q * n} of $n")
    }
  }

  test("seeded correlation takes its seed set from configuration") {
    val dir = "/root/testdata/sf0.01"
    val key = graft.queries.AnalyticsQueries.SeedUsersConf
    try {
      spark.conf.set(key, "3, 7")
      val seeds = SparkEntry.queries("q_series_correlation_seeded")(spark, dir)
        .select("seed_user").distinct().as[Long].collect().toSet
      assert(seeds.nonEmpty && seeds.subsetOf(Set(3L, 7L)),
        s"configured seed set ignored: $seeds")
    } finally spark.conf.unset(key)
    // default (no conf): the fixture's % 25 == 0 seed family, capped at
    // a fixed COUNT so the broadcast side is bounded at any user-base size
    val defSeeds = SparkEntry.queries("q_series_correlation_seeded")(spark, dir)
      .select("seed_user").distinct().as[Long].collect()
    val maxSeedId = 25L * graft.queries.AnalyticsQueries.MaxDefaultSeeds
    assert(defSeeds.nonEmpty && defSeeds.forall(id =>
      id % 25 == 0 && id < maxSeedId))
    assert(defSeeds.length <= graft.queries.AnalyticsQueries.MaxDefaultSeeds)
  }

  test("streaming session window merges events within the gap") {
    val ps = new PubSub(spark)
    val t = ps.topic[Long]("sess")
    // the session key is the event content (a user id)
    val out = TemporalOps.sessionAgg("30 seconds", "content")()(t.stream)
    val rows = mutable.Buffer.empty[(Long, Long)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r =>
            (r.getAs[Long]("content"), r.getAs[Long]("n_events")))
        }; ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(0), 7L), EventEnvelope.at(ts(10), 7L),
      EventEnvelope.at(ts(20), 7L),  // one session of 3 (gaps 10s < 30s)
      EventEnvelope.at(ts(100), 7L), // new session (gap 80s)
      EventEnvelope.at(ts(500), 7L))) // trigger: closes both
    q.processAllAvailable()
    q.stop()
    assert(rows.sorted.toList == List((7L, 1L), (7L, 3L)))
    ps.close()
  }

  test("streaming exact dedup drops duplicate ids within the watermark") {
    val ps = new PubSub(spark)
    val t = ps.topic[Long]("dedup-stream")
    // dedup on content (the doc/event id) with event-time watermark —
    // state evicts as the watermark passes (bounded, scales per key)
    val deduped = t.stream.toDF()
      .withColumn("event_time", col("stamp.start_time"))
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("content")
    val seen = mutable.Buffer.empty[Long]
    val q = deduped.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.collect().map(_.getAs[Long]("content")) }
        ()
      }.start()
    t.publish(Seq(
      EventEnvelope.at(ts(0), 1L), EventEnvelope.at(ts(1), 2L),
      EventEnvelope.at(ts(2), 1L), // duplicate within watermark
      EventEnvelope.at(ts(3), 3L)))
    q.processAllAvailable()
    q.stop()
    assert(seen.sorted.toList == List(1L, 2L, 3L))
    ps.close()
  }

  test("two PubSub instances are isolated repositories (ref :75-125)") {
    val ps1 = new PubSub(spark)
    val ps2 = new PubSub(spark)
    val got1 = mutable.Buffer.empty[Int]
    val s1 = ps1.subscribe(ps1.topic[Int]("same-name").stream) { evs =>
      got1.synchronized { got1 ++= evs.map(_.content) }; ()
    }
    ps2.topic[Int]("same-name").publishValues(99) // other repository
    ps1.topic[Int]("same-name").publishValues(1)
    s1.drain()
    s1.close()
    assert(got1.toList == List(1)) // never sees ps2's event
    ps1.close(); ps2.close()
  }
}
