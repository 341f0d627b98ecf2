package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum, window}

import graft.core.{EventEnvelope, Sessions}
import graft.queries.Tables
import graft.streaming._

/** Streaming-plane throughput measurement: pushes N events through a full
  * pipeline (filter -> temporal window aggregation) and through the
  * stateful counting-window operator, reporting events/second. The
  * reference's own demos stop at 1,000 events with no recorded numbers
  * (BASELINE.md) — this is the comparable single-node figure for the
  * micro-batch engine. Run: sbt "runMain graft.StreamBench [nEvents]"
  */
object StreamBench {
  /** Locale-pinned numeric formatting for JSON-bound doubles — the
    * f-interpolator goes through the default JVM locale, so a
    * comma-decimal locale would emit `1,23` and break the JSON line
    * (same fix as Bench.jnum).
    */
  private def jd2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def jd0(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))

  /** Starts `out` into a sink that counts its rows, runs `feed`, drains
    * and stops the query: (seconds from just after the start to the
    * drained sink, rows seen).
    */
  private def timed(out: Dataset[_])(feed: => Unit): (Double, Long) = {
    var rows = 0L
    val q = out.toDF().writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) => rows += b.count(); () }
      .start()
    val t0 = System.nanoTime()
    feed
    q.processAllAvailable()
    val sec = (System.nanoTime() - t0) / 1e9
    q.stop()
    (sec, rows)
  }

  def main(args: Array[String]): Unit = {
    graft.core.Sessions.assertJdkOpens()
    val n = args.headOption.map(_.toInt).getOrElse(500000)
    // SPARK_GRAFT_STATE_STORE=rocksdb measures the large-state scale
    // path (Sessions.tuneLargeState) instead of the in-memory default —
    // the same pipelines, so the two runs isolate the state-store cost.
    val rocksdb = sys.env.get("SPARK_GRAFT_STATE_STORE")
      .exists(_.equalsIgnoreCase("rocksdb"))
    val builder0 = Sessions.tune(
      SparkSession.builder().master(s"local[${
        Runtime.getRuntime.availableProcessors()}]")
        .config("spark.sql.streaming.checkpointLocation",
          s"/tmp/graft-sbench-${System.nanoTime()}"), 32)
    val spark: SparkSession =
      (if (rocksdb) Sessions.tuneLargeState(builder0) else builder0)
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ps = new PubSub(spark)
    val base = 1700000000000L

    def events(m: Int): Seq[EventEnvelope[Double]] =
      (0 until m).map(i =>
        EventEnvelope.at(new Timestamp(base + i * 100L), i.toDouble))

    // pipeline 0: lake-source streaming — tail a parquet table through a
    // watermarked windowed aggregation (columnar ingest; the realistic
    // 100 TB shape). Throughput here is engine throughput; the typed
    // pub/sub pipelines below additionally pay driver-side row encoding.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val lakeDir = s"/tmp/graft-sbench-lake-${System.nanoTime()}"
    new java.io.File(lakeDir).mkdirs()
    (0 until 10).foreach(i => java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.1/events.parquet"),
      java.nio.file.Paths.get(f"$lakeDir/part-$i%03d.parquet")))
    val lakeRows = Tables.read(spark, lakeDir).count()
    // ts arrives in whatever unit the driver fixture carries (nanos
    // longs historically, native micros since r11) — dispatch on the
    // observed type exactly like Tables.load (r12: this main was the
    // one remaining copy of the hard-coded nanos shim, caught only by
    // running it, since StreamBench is outside the sbt-test gate).
    val lakeRaw = graft.sources.EventSources.parquetStream(spark, lakeDir, 64)
    val (lakeSec, lakeOut) = timed(lakeRaw
      .withColumn("ets", Tables.normalizedTs(lakeRaw, "ts"))
      .withWatermark("ets", "0 seconds")
      .groupBy(window(col("ets"), "300 seconds"))
      .agg(sum("value").as("sv")))(())

    // pipeline 1: filter -> windowed sum (watermarked hash agg)
    val t1 = ps.topic[Double]("bench-window")
    val (windowSec, outRows) = timed(TemporalOps.batchSum[Double](
      "60 seconds")(TypedOps.greater(10.0).apply(t1.stream)))(
      t1.publish(events(n)))

    // pipeline 2: global counting windows (single-writer stateful op)
    val t2 = ps.topic[Double]("bench-counting")
    val (countingSec, nWins) = timed(StatefulOps.countingWindows[Double](
      1000, 1000)(t2.stream))(t2.publish(events(n)))

    // pipeline 3: gapless temporal sequencer, keyed (the scale form) —
    // events spread over 64 keys, 10s buckets, event times advancing
    // 100ms apart so every key sees its full bucket sequence
    val t3 = ps.topic[Double]("bench-gapless")
    val (gaplessSec, nGapWins) = timed(
      StatefulOps.temporalBatchesGaplessByKey[Double](10000L)(
        e => (e.content % 64).toInt.toString)(t3.stream))(
      t3.publish(events(n)))

    // pipeline 4: per-window top-k heavy hitters — 1000 distinct values
    // over 10 s windows (each window holds ~100 events), final-on-close
    // emission; measures the window-partitioned exact-count state path
    val t4 = ps.topic[String]("bench-topk")
    val (topkSec, nTopkRows) = timed(
      StatefulOps.topKByWindow(10000L, 5)(t4.stream)) {
      t4.publish((0 until n).map(i => EventEnvelope.at(
        new Timestamp(base + i * 100L), (i % 1000).toString)))
      // one far-future event closes every window so the emission cost is
      // inside the measured interval
      t4.publish(Seq(EventEnvelope.at(
        new Timestamp(base + n * 100L + 3600L * 1000L), "flush")))
    }

    // pipeline 5: the full selective corpus ingest — three stateless
    // gates (quality, importance LM, decontamination buckets) feeding
    // the MinHash-band suppression. Real fixture documents cycled, so
    // repeats exercise the suppression state on every event; artifacts
    // fitted from the fixture the way production fits them offline.
    // Permissive thresholds keep rows flowing into the stateful stage
    // (the expensive path) — this measures the full-pipeline worst case,
    // not gate selectivity.
    // SPARK_GRAFT_INGEST_DOCS points the ingest pipelines at a bigger
    // corpus (e.g. a mult=10 ScaleFixture dir) — more DISTINCT documents
    // means more live band/suppression state, the dimension the RocksDB
    // run exists to measure. The driver-side text pool is capped: the
    // stream cycles up to 50k distinct docs, the state the engine holds
    // is what's measured, not the driver's memory.
    val ingestN = sys.env.get("SPARK_GRAFT_INGEST_N").map(_.toInt)
      .getOrElse(math.max(n / 25, 2000))
    val ingestDocs = sys.env.getOrElse("SPARK_GRAFT_INGEST_DOCS",
      "/root/testdata/sf0.001")
    val fixDocs = Tables.read(spark, s"$ingestDocs/documents.parquet")
    val lmFit = graft.operators.Importance.fit(fixDocs, col("text"),
      col("source") === "src0")
    val evalB = graft.operators.Decontamination.fitBuckets(
      fixDocs.where(col("source") === "src19"), col("text"))
    val texts = fixDocs.select("text").limit(50000).collect()
      .map(_.getString(0))
    // the far-future document that closes every claim window, with
    // enough words to pass the quality gate and reach the band stage
    val flushDoc = "flush marker document with enough words to pass the " +
      "quality gate and the shingle threshold for the long branch of the " +
      "pipeline"
    def publishCorpus(t: Topic[String]): Unit = {
      t.publish((0 until ingestN).map(i => EventEnvelope.at(
        new Timestamp(base + i * 100L), texts(i % texts.length))))
      t.publish(Seq(EventEnvelope.at(
        new Timestamp(base + ingestN * 100L + 3600L * 1000L), flushDoc)))
    }
    val t5 = ps.topic[String]("bench-ingest")
    val (ingestSec, nIngested) = timed(TypedOps.corpusIngestSelective(
      "5 seconds", lmFit, evalB, minQuality = 0.2, minLogw = -1e6,
      minShared = 1000000)(t5.stream))(publishCorpus(t5))

    // pipeline 5b: the same selective ingest at the cheaper
    // 32-perm/8-band suppression config — half the signature work (the
    // measured bottleneck of pipeline 5); LshRecallSpec pins the recall
    // this trade costs. Same inputs, same artifacts, so the delta
    // isolates the banding dial.
    val t6 = ps.topic[String]("bench-ingest32")
    val (ingest32Sec, nIngested32) = timed(TypedOps.corpusIngestSelective(
      "5 seconds", lmFit, evalB, minQuality = 0.2, minLogw = -1e6,
      minShared = 1000000, nPerms = 32, nBands = 8)(t6.stream))(
      publishCorpus(t6))

    // pipeline 7: streaming SemDeDup gate — per-cell admitted-state
    // suppression over embedding events, the semantic third of the
    // ingest plane's dedup story (exact topic dedup + band near-dup
    // above). Centroids are the IVF fixture frame; events cycle the
    // fixture embeddings with fresh ids, so every replay past the first
    // is a same-cell duplicate the state must suppress.
    val fixEmb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val semCents = fixEmb.where(
        col("vec_id") % 37 === 0 && col("vec_id") < 37L * 64)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) / 37) ->
        r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val semVecs = fixEmb.select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toSeq)
    val semN = math.max(n / 50, 1000)
    val t7 = ps.topic[AnnStream.VecDoc]("bench-semdedup")
    val (semSec, nSemAdmitted) = timed(AnnStream.semDedupGate(semCents,
      thresholdQ = 9999L)(t7.stream))(
      t7.publish((0 until semN).map(i => EventEnvelope.at(
        new Timestamp(base + i * 100L),
        AnnStream.VecDoc(i.toLong, semVecs(i % semVecs.length))))))

    println(s"""{"stream_bench":{"n_events":$n,""" +
      s""""state_store":"${if (rocksdb) "rocksdb" else "memory"}",""" +
      s""""lake_rows":$lakeRows,"lake_sec":${jd2(lakeSec)},""" +
      s""""lake_rows_per_sec":${jd0(lakeRows / lakeSec)},""" +
      s""""lake_out_rows":$lakeOut,""" +
      s""""window_pipeline_sec":${jd2(windowSec)},""" +
      s""""window_events_per_sec":${jd0(n / windowSec)},""" +
      s""""window_out_rows":$outRows,""" +
      s""""counting_sec":${jd2(countingSec)},""" +
      s""""counting_events_per_sec":${jd0(n / countingSec)},""" +
      s""""counting_windows":$nWins,""" +
      s""""gapless_keyed_sec":${jd2(gaplessSec)},""" +
      s""""gapless_keyed_events_per_sec":${jd0(n / gaplessSec)},""" +
      s""""gapless_windows":$nGapWins,""" +
      s""""topk_sec":${jd2(topkSec)},""" +
      s""""topk_events_per_sec":${jd0(n / topkSec)},""" +
      s""""topk_rows":$nTopkRows,""" +
      s""""ingest_n":$ingestN,"ingest_sec":${jd2(ingestSec)},""" +
      s""""ingest_docs_per_sec":${jd0(ingestN / ingestSec)},""" +
      s""""ingest_out":$nIngested,""" +
      s""""ingest32_sec":${jd2(ingest32Sec)},""" +
      s""""ingest32_docs_per_sec":${jd0(ingestN / ingest32Sec)},""" +
      s""""ingest32_out":$nIngested32,""" +
      s""""semdedup_n":$semN,"semdedup_sec":${jd2(semSec)},""" +
      s""""semdedup_vecs_per_sec":${jd0(semN / semSec)},""" +
      s""""semdedup_admitted":$nSemAdmitted}}""")
    ps.close()
    spark.stop()
  }
}
