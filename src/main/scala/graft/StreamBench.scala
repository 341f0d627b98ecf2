package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{EventEnvelope, Sessions}
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
    val lakeRows = graft.queries.Tables.read(spark, lakeDir).count()
    // ts arrives in whatever unit the driver fixture carries (nanos
    // longs historically, native micros since r11) — dispatch on the
    // observed type exactly like Tables.load (r12: this main was the
    // one remaining copy of the hard-coded nanos shim, caught only by
    // running it, since StreamBench is outside the sbt-test gate).
    val lakeRaw = graft.sources.EventSources.parquetStream(spark, lakeDir, 64)
    val lake = lakeRaw
      .withColumn("ets", graft.queries.Tables.normalizedTs(lakeRaw, "ts"))
      .withWatermark("ets", "0 seconds")
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ets"), "300 seconds"))
      .agg(org.apache.spark.sql.functions.sum("value").as("sv"))
    var lakeOut = 0L
    val q0 = lake.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        lakeOut += b.count(); ()
      }.start()
    val l0 = System.nanoTime()
    q0.processAllAvailable()
    val lakeSec = (System.nanoTime() - l0) / 1e9
    q0.stop()

    // pipeline 1: filter -> windowed sum (watermarked hash agg)
    val t1 = ps.topic[Double]("bench-window")
    val filterOp = TypedOps.greater(10.0)
    val agg = TemporalOps.batchSum[Double]("60 seconds")(
      filterOp(t1.stream))
    var outRows = 0L
    val q1 = agg.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        outRows += b.count(); ()
      }.start()
    val w0 = System.nanoTime()
    t1.publish(events(n))
    q1.processAllAvailable()
    val windowSec = (System.nanoTime() - w0) / 1e9
    q1.stop()

    // pipeline 2: global counting windows (single-writer stateful op)
    val t2 = ps.topic[Double]("bench-counting")
    val wins = StatefulOps.countingWindows[Double](1000, 1000)(t2.stream)
    var nWins = 0L
    val q2 = wins.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[WindowBatch[Double]], _: Long) =>
        nWins += b.count(); ()
      }.start()
    val c0 = System.nanoTime()
    t2.publish(events(n))
    q2.processAllAvailable()
    val countingSec = (System.nanoTime() - c0) / 1e9
    q2.stop()

    // pipeline 3: gapless temporal sequencer, keyed (the scale form) —
    // events spread over 64 keys, 10s buckets, event times advancing
    // 100ms apart so every key sees its full bucket sequence
    val t3 = ps.topic[Double]("bench-gapless")
    val gap = StatefulOps.temporalBatchesGaplessByKey[Double](10000L)(
      e => (e.content % 64).toInt.toString)(t3.stream)
    var nGapWins = 0L
    val q3 = gap.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[(String, WindowBatch[Double])], _: Long) =>
        nGapWins += b.count(); ()
      }.start()
    val g0 = System.nanoTime()
    t3.publish(events(n))
    q3.processAllAvailable()
    val gaplessSec = (System.nanoTime() - g0) / 1e9
    q3.stop()

    // pipeline 4: per-window top-k heavy hitters — 1000 distinct values
    // over 10 s windows (each window holds ~100 events), final-on-close
    // emission; measures the window-partitioned exact-count state path
    val t4 = ps.topic[String]("bench-topk")
    val topk = StatefulOps.topKByWindow(10000L, 5)(t4.stream)
    var nTopkRows = 0L
    val q4 = topk.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[TopKRow], _: Long) =>
        nTopkRows += b.count(); ()
      }.start()
    val k0 = System.nanoTime()
    t4.publish((0 until n).map(i => EventEnvelope.at(
      new Timestamp(base + i * 100L), (i % 1000).toString)))
    // one far-future event closes every window so the emission cost is
    // inside the measured interval
    t4.publish(Seq(EventEnvelope.at(
      new Timestamp(base + n * 100L + 3600L * 1000L), "flush")))
    q4.processAllAvailable()
    val topkSec = (System.nanoTime() - k0) / 1e9
    q4.stop()

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
    val fixDocs = graft.queries.Tables.read(spark,
      s"$ingestDocs/documents.parquet")
    val lmFit = graft.operators.Importance.fit(fixDocs,
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.col("source") === "src0")
    val evalB = graft.operators.Decontamination.fitBuckets(
      fixDocs.where(org.apache.spark.sql.functions.col("source") === "src19"),
      org.apache.spark.sql.functions.col("text"))
    val texts = fixDocs.select("text").limit(50000).collect()
      .map(_.getString(0))

    // SPARK_GRAFT_INGEST_PROFILE=1: per-STAGE attribution of the
    // selective-ingest per-doc budget, instead of the full-suite bench.
    // Four pipelines over identical inputs, each adding one stage of
    // corpusIngestSelective:
    //   gates       three stateless filters (quality/LM/decontam) only
    //   sig         + MinHash signature + band explode (stateless)
    //   band_state  + dropDuplicatesWithinWatermark(band, h) (stateful)
    //   full        + claim-count window (the complete operator)
    // Successive deltas attribute signature compute vs band-claim state
    // vs the claim-window stage; the gates row is the publish/encode
    // floor every delta sits on. Honors SPARK_GRAFT_STATE_STORE=rocksdb
    // and SPARK_GRAFT_INGEST_DOCS like the main bench. Prints one JSON
    // line and exits.
    if (sys.env.get("SPARK_GRAFT_INGEST_PROFILE").contains("1")) {
      // Large-state knobs (round 16): the r15 dial experiment honestly
      // concluded "no-op at 76k keys" — the levers' binding point needs
      // a horizon population of 10^6-10^7 band-claim keys. Three envs
      // reach it without a driver-memory blowup:
      //  - SPARK_GRAFT_INGEST_UNIQUE=1 suffixes every event's text with
      //    its sequence number, so EVERY event is a distinct document
      //    (distinct shingles -> distinct band keys) while the driver
      //    still cycles the bounded 50k text pool;
      //  - SPARK_GRAFT_INGEST_STEP_MS (default 100) spaces event times;
      //    0 parks all events on one timestamp, so the watermark holds
      //    and NOTHING evicts — state grows to the full population (the
      //    horizon-worst-case a 100 TB ingest must survive);
      //  - SPARK_GRAFT_INGEST_CHUNK (default: one publish) splits the
      //    publish so state accumulates across many micro-batches the
      //    way a real trigger cadence would, and bounds the per-publish
      //    allocation.
      // SPARK_GRAFT_INGEST_STAGES=band_state,full narrows the profile to
      // the stateful stages when the stateless floor is already known.
      val uniqueDocs = sys.env.get("SPARK_GRAFT_INGEST_UNIQUE").contains("1")
      val stepMs = sys.env.getOrElse("SPARK_GRAFT_INGEST_STEP_MS", "100")
        .toLong
      val chunk = sys.env.get("SPARK_GRAFT_INGEST_CHUNK").map(_.toInt)
        .getOrElse(ingestN).max(1)
      val stages = sys.env.get("SPARK_GRAFT_INGEST_STAGES")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      def timeStream(label: String,
          build: Dataset[EventEnvelope[String]] =>
            org.apache.spark.sql.DataFrame): (String, Double, Long) = {
        val t = ps.topic[String](s"profile-$label")
        val out = build(t.stream)
        var nOut = 0L
        val q = out.writeStream.outputMode("append")
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
            nOut += b.count(); ()
          }.start()
        def docAt(i: Int): String = {
          val base0 = texts(i % texts.length)
          if (uniqueDocs) base0 + " u" + i else base0
        }
        val t0 = System.nanoTime()
        (0 until ingestN).grouped(chunk).foreach { idxs =>
          t.publish(idxs.map(i => EventEnvelope.at(
            new Timestamp(base + i * stepMs), docAt(i))))
        }
        t.publish(Seq(EventEnvelope.at(
          new Timestamp(base + ingestN * math.max(stepMs, 1L) +
            3600L * 1000L),
          "flush marker document with enough words to pass the quality " +
            "gate and the shingle threshold for the long branch")))
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        (label, sec, nOut)
      }
      def gates(ds: Dataset[EventEnvelope[String]]) = {
        import org.apache.spark.sql.functions.col
        ds.toDF()
          .where(graft.functions.TextFunctions.qualityScoreQ(col("content"))
            >= 2000)
          .where(graft.operators.Importance.logw(col("content"), lmFit)
            >= -1e6)
          .where(graft.operators.Decontamination.hitCount(
            col("content"), evalB) < 1000000)
      }
      val allStages = Seq[(String, Dataset[EventEnvelope[String]] =>
          org.apache.spark.sql.DataFrame)](
        ("gates", ds => gates(ds)),
        ("sig", ds => TypedOps.bandedProjection(
          "5 seconds", 5, 64, 16, 42L)(gates(ds))),
        ("band_state", ds => TypedOps.bandedProjection(
          "5 seconds", 5, 64, 16, 42L)(gates(ds))
          .dropDuplicatesWithinWatermark("band", "h")),
        ("full", ds => TypedOps.corpusIngestSelective(
          "5 seconds", lmFit, evalB, minQuality = 0.2, minLogw = -1e6,
          minShared = 1000000)(ds.asInstanceOf[Dataset[
            EventEnvelope[String]]]).toDF()))
      val picked = allStages
        .filter { case (l, _) => stages.forall(_.contains(l)) }
      if (picked.isEmpty)
        // An empty stage filter (typo'd names) would otherwise print a
        // trailing-comma line — an unparseable artifact — after running
        // nothing; fail loudly instead.
        sys.error(s"SPARK_GRAFT_INGEST_STAGES=${stages.getOrElse("")} " +
          s"matched no stages (have: ${allStages.map(_._1).mkString(",")})")
      val results = picked.map { case (l, b) => timeStream(l, b) }
      // "out" rows make state-dial experiments self-verifying: identical
      // out counts across configs = keeper parity, printed not argued
      val fields = Seq(
        s""""metric":"ingest_profile"""", s""""n":$ingestN""",
        s""""rocksdb":$rocksdb""", s""""docs_dir":"$ingestDocs"""",
        s""""unique":$uniqueDocs""", s""""step_ms":$stepMs""",
        s""""chunk":$chunk""") ++ results.map { case (l, s, o) =>
        s""""$l":{"sec":${jd2(s)},"docs_per_sec":${jd0(ingestN / s)},"out":$o}"""
      }
      println(fields.mkString("{", ",", "}"))
      ps.close()
      spark.stop()
      return
    }

    // SPARK_GRAFT_INGEST_SOURCE=lake: the same selective-ingest pipeline
    // fed by the PARTITIONED parquetStream file source instead of the
    // single in-JVM topic publisher (VERDICT r17 item 3). The r17
    // profile established that the topic topology measures the
    // DRIVER-PUBLISHER floor — one source thread feeding row encode +
    // the first shuffle — so executor fan-out cannot move it; this mode
    // measures whether SOURCE partitioning does. The driver stages
    // ingestN docs as SRC_FILES parquet part-files (each file = one
    // scan task = one source partition), the stream tails them
    // SRC_MAXFILES per trigger, and the identical corpusIngestSelective
    // runs downstream. Under SPARK_GRAFT_MASTER=local-cluster[W,C,mem]
    // the scan and both stateful stages run in real executor JVMs — the
    // [2,8]/[4,8] grid the fan-out claim needs. Event times default to
    // ONE timestamp (STEP_MS=0): files arrive in mtime order, not ts
    // order, so a spread of event times would watermark-drop every
    // batch after the first; a held watermark keeps all state live (the
    // same worst-case convention as the large-state profile). Two rows
    // print: `source` (scan + envelope floor) and `full` (the whole
    // pipeline), so source cost and pipeline cost separate.
    if (sys.env.get("SPARK_GRAFT_INGEST_SOURCE").contains("lake")) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val uniqueDocs = sys.env.get("SPARK_GRAFT_INGEST_UNIQUE").contains("1")
      val stepMs = sys.env.getOrElse("SPARK_GRAFT_INGEST_STEP_MS", "0").toLong
      val srcFiles = sys.env.getOrElse("SPARK_GRAFT_INGEST_SRC_FILES", "64")
        .toInt
      val maxFiles = sys.env.getOrElse("SPARK_GRAFT_INGEST_SRC_MAXFILES", "8")
        .toInt
      def docAt(i: Int): String = {
        val b0 = texts(i % texts.length)
        if (uniqueDocs) b0 + " u" + i else b0
      }
      def toEnv(df: org.apache.spark.sql.DataFrame)
          : Dataset[EventEnvelope[String]] =
        graft.sources.EventSources.withStamp(df, "ts")
          .select(col("stamp"), col("text").as("content"))
          .as[EventEnvelope[String]]
      def run(label: String,
          build: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame): (String, Double, Long) = {
        val stage = s"/tmp/graft-sbench-lakeingest-$label-${System.nanoTime()}"
        spark.createDataset((0 until ingestN).map(i =>
            (new Timestamp(base + i * stepMs), docAt(i))))
          .toDF("ts", "text").repartition(srcFiles)
          .write.mode("overwrite").parquet(stage)
        // the flush file must sort AFTER every staged file (the file
        // source orders by modification time): its far-future event
        // time advances the watermark so the claim windows emit, and
        // processing it FIRST would watermark-drop the whole corpus
        Thread.sleep(1200)
        Seq((new Timestamp(base + ingestN * math.max(stepMs, 1L) +
            3600L * 1000L),
          "flush marker document with enough words to pass the quality " +
            "gate and the shingle threshold for the long branch"))
          .toDF("ts", "text").coalesce(1).write.mode("append").parquet(stage)
        val src = graft.sources.EventSources.parquetStream(
          spark, stage, maxFiles)
        var nOut = 0L
        val q = build(src).writeStream.outputMode("append")
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
            nOut += b.count(); ()
          }.start()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        (label, sec, nOut)
      }
      val results = Seq(
        run("source", df => toEnv(df).toDF()),
        run("full", df => TypedOps.corpusIngestSelective(
          "5 seconds", lmFit, evalB, minQuality = 0.2, minLogw = -1e6,
          minShared = 1000000)(toEnv(df)).toDF()))
      val fields = Seq(
        s""""metric":"ingest_lake"""", s""""n":$ingestN""",
        s""""rocksdb":$rocksdb""", s""""docs_dir":"$ingestDocs"""",
        s""""unique":$uniqueDocs""", s""""step_ms":$stepMs""",
        s""""src_files":$srcFiles""", s""""max_files":$maxFiles""",
        s""""master":"${spark.sparkContext.master}"""") ++
        results.map { case (l, s, o) =>
          s""""$l":{"sec":${jd2(s)},"docs_per_sec":${jd0(ingestN / s)},"out":$o}"""
        }
      println(fields.mkString("{", ",", "}"))
      ps.close()
      spark.stop()
      return
    }
    val t5 = ps.topic[String]("bench-ingest")
    val ing = TypedOps.corpusIngestSelective("5 seconds", lmFit, evalB,
      minQuality = 0.2, minLogw = -1e6, minShared = 1000000)(t5.stream)
    var nIngested = 0L
    val q5 = ing.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        nIngested += b.count(); ()
      }.start()
    val i0 = System.nanoTime()
    t5.publish((0 until ingestN).map(i => EventEnvelope.at(
      new Timestamp(base + i * 100L), texts(i % texts.length))))
    t5.publish(Seq(EventEnvelope.at(
      new Timestamp(base + ingestN * 100L + 3600L * 1000L),
      "flush marker document with enough words to pass the quality gate " +
        "and the shingle threshold for the long branch of the pipeline")))
    q5.processAllAvailable()
    val ingestSec = (System.nanoTime() - i0) / 1e9
    q5.stop()

    // pipeline 5b: the same selective ingest at the cheaper
    // 32-perm/8-band suppression config — half the signature work (the
    // measured bottleneck of pipeline 5); LshRecallSpec pins the recall
    // this trade costs. Same inputs, same artifacts, so the delta
    // isolates the banding dial.
    val t6 = ps.topic[String]("bench-ingest32")
    val ing32 = TypedOps.corpusIngestSelective("5 seconds", lmFit, evalB,
      minQuality = 0.2, minLogw = -1e6, minShared = 1000000,
      nPerms = 32, nBands = 8)(t6.stream)
    var nIngested32 = 0L
    val q6 = ing32.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        nIngested32 += b.count(); ()
      }.start()
    val j0 = System.nanoTime()
    t6.publish((0 until ingestN).map(i => EventEnvelope.at(
      new Timestamp(base + i * 100L), texts(i % texts.length))))
    t6.publish(Seq(EventEnvelope.at(
      new Timestamp(base + ingestN * 100L + 3600L * 1000L),
      "flush marker document with enough words to pass the quality gate " +
        "and the shingle threshold for the long branch of the pipeline")))
    q6.processAllAvailable()
    val ingest32Sec = (System.nanoTime() - j0) / 1e9
    q6.stop()

    // pipeline 7: streaming SemDeDup gate — per-cell admitted-state
    // suppression over embedding events, the semantic third of the
    // ingest plane's dedup story (exact topic dedup + band near-dup
    // above). Centroids are the IVF fixture frame; events cycle the
    // fixture embeddings with fresh ids, so every replay past the first
    // is a same-cell duplicate the state must suppress.
    val fixEmb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val semCents = fixEmb.where(
        org.apache.spark.sql.functions.col("vec_id") % 37 === 0 &&
        org.apache.spark.sql.functions.col("vec_id") < 37L * 64)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0) / 37) ->
        r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val semVecs = fixEmb.select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toSeq)
    val semN = math.max(n / 50, 1000)
    val t7 = ps.topic[AnnStream.VecDoc]("bench-semdedup")
    val gated = AnnStream.semDedupGate(semCents, thresholdQ = 9999L)(
      t7.stream)
    var nSemAdmitted = 0L
    val q7 = gated.writeStream.outputMode("append")
      .foreachBatch {
        (b: Dataset[EventEnvelope[AnnStream.VecDoc]], _: Long) =>
          nSemAdmitted += b.count(); ()
      }.start()
    val s0 = System.nanoTime()
    t7.publish((0 until semN).map(i => EventEnvelope.at(
      new Timestamp(base + i * 100L),
      AnnStream.VecDoc(i.toLong, semVecs(i % semVecs.length)))))
    q7.processAllAvailable()
    val semSec = (System.nanoTime() - s0) / 1e9
    q7.stop()

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
