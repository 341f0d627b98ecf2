package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables

/** Fixture-drift tripwire. Round 11 lost 32 queries, 10 bench headliners
  * and 9 tests to a SILENT driver-side change of `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS): nothing asserted the fixture
  * schema, so the breakage surfaced as scattered analysis errors instead
  * of one named test. This spec pins the POST-LOAD schema of every
  * fixture table (what the 116 queries actually consume, i.e. after
  * Tables.load's ts normalization), so the next encoding drift fails
  * here first with a message naming the table and column.
  */
class FixtureSchemaSpec extends AnyFunSuite with LocalSparkSuite {

  private val SfDir = "/root/testdata/sf0.001"

  // Post-load contract: (name -> type) per table. Timestamps in the raw
  // TPC-H-ish tables arrive as parquet MICROS with isAdjustedToUTC=false,
  // which Spark reads as TIMESTAMP_NTZ; `events.ts` alone is normalized
  // to TimestampType by Tables.load (every window/join query depends on
  // it). If the driver re-encodes a fixture, exactly the rows below
  // change — the assertion message says which.
  private val Expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  // All three scale factors: the gate runs at sf0.01 and the bench at
  // sf0.1, so a drift in EITHER must fail here, not at plan time deep
  // inside a query. Schema reads are parquet-footer-only — cheap.
  for ((table, cols) <- Expected.toSeq.sortBy(_._1)) {
    test(s"fixture schema: $table matches the pinned post-load contract " +
        "at every scale factor") {
      for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
        val got = graft.queries.Tables
          .load(spark, s"/root/testdata/$sf", table).schema
          .map(f => f.name -> f.dataType)
        assert(got == cols,
          s"FIXTURE DRIFT in $sf/$table.parquet — the driver's testdata " +
          s"encoding changed.\n  expected: $cols\n  got:      $got\n" +
          "If a timestamp unit moved, Tables.load (QueryDef.scala) is " +
          "the place that absorbs it; update the pin here once " +
          "load-side normalization is restored.")
      }
      // Tables.load reads the schema from one footer itself: the whole
      // StructType (nullability and metadata too) must be what Spark's
      // inference gives, on the fixtures and on a Spark-written table
      for (dir <- Seq("sf0.001", "sf0.01", "sf0.1")
          .map(SfDir.replace("sf0.001", _)) :+ sparkWrittenDir)
        assert(Tables.load(spark, dir, table).schema ==
          inferredSchema(dir, table),
          s"$dir/$table: the footer schema differs from the inferred one")
    }
  }

  private val TableNames = Expected.keys.toSeq.sorted

  /** The schema the inferring reader gives a table, after the same `ts`
    * normalization as [[Tables.load]]: what `load` returned before it
    * read footers itself.
    */
  private def inferredSchema(dir: String, table: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$table.parquet")
    if (table == "events") df.withColumn("ts", Tables.normalizedTs(df, "ts"))
      .schema
    else df.schema
  }

  /** Spark jobs that `body` starts on this thread. The listener bus is
    * asynchronous but FIFO, so a marker job run after `body` arrives
    * after every job `body` started; tagging both with a job group keeps
    * events still queued from earlier tests out of the count.
    */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("jobs-probe") => jobs.incrementAndGet(); ()
          case Some("jobs-marker") => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-probe", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs-marker", "end of the counted jobs")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(marker.await(10, TimeUnit.SECONDS),
        "marker job event never arrived")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Every fixture table rewritten by Spark as a directory of two part
    * files plus `_SUCCESS` (and their `.crc` files): the layout of the
    * benchmark's fixture.
    */
  private lazy val sparkWrittenDir: String = {
    val dir = tempPath("spark-written")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- TableNames) {
      spark.read.parquet(s"$SfDir/$t.parquet").repartition(2)
        .write.parquet(s"$dir/$t.parquet")
      val names = new java.io.File(s"$dir/$t.parquet").list()
      assert(names.count(_.startsWith("part-")) == 2 &&
        names.contains("_SUCCESS"), s"$t layout: ${names.sorted.toSeq}")
    }
    dir
  }

  test("loading a fixture table runs no Spark job, nor does building " +
      "q_revenue_nation (four loads and nothing else eager)") {
    val sf001 = SfDir.replace("sf0.001", "sf0.01")
    for (dir <- Seq(sf001, sparkWrittenDir); t <- TableNames) {
      val n = jobsDuring(Tables.load(spark, dir, t).schema)
      assert(n == 0, s"Tables.load($dir, $t) ran $n Spark job(s)")
    }
    val n = jobsDuring(
      SparkEntry.allDefs("q_revenue_nation").build(spark, sf001))
    assert(n == 0, s"building q_revenue_nation ran $n Spark job(s)")
  }

  test("paths with no footer to read keep Spark's own errors and " +
      "partition inference") {
    val missing = intercept[AnalysisException](
      Tables.load(spark, tempPath("missing"), "lineitem"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)

    // a directory holding only a _SUCCESS marker, and a file that is no
    // parquet, fail as the inferring reader fails on them
    def failure(read: => DataFrame): (Class[_], String) = {
      val e = intercept[Exception](read)
      (e.getClass, e match {
        case t: SparkThrowable => t.getCondition
        case _ => e.getMessage
      })
    }
    val noData = tempPath("no-data")
    val table = new java.io.File(s"$noData/lineitem.parquet")
    table.mkdirs()
    new java.io.File(table, "_SUCCESS").createNewFile()
    val junk = tempPath("junk")
    java.nio.file.Files.write(java.nio.file.Paths.get(junk),
      "not a parquet file".getBytes)
    for (path <- Seq(table.getPath, junk)) {
      val got = failure(Tables.read(spark, path))
      assert(got == failure(spark.read.parquet(path)), s"$path: $got")
    }
    assert(failure(Tables.read(spark, table.getPath)) ==
      (classOf[AnalysisException], "UNABLE_TO_INFER_SCHEMA"))

    val partitioned = tempPath("partitioned")
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k")
      .parquet(partitioned)
    val stream = graft.sources.EventSources.parquetStream(spark, partitioned)
    assert(stream.columns.toSeq == Seq("id", "k"), stream.columns.toSeq)
  }

  test("documents.text stays BMP-only and clear of the BPE oracle's " +
      "private-use sentinel range, at every scale factor") {
    // Two TokenizerQueries oracle assumptions become silent divergence
    // if the fixture corpus ever drifts:
    //   1. chr(0xE000+k) merge sentinels must not collide with corpus
    //      text (SentBase's "fixture-free (checked)" — this IS the
    //      check);
    //   2. the DuckDB tie-break ORDER BY dl, dr collates by CODE POINT
    //      and substr counts a supplementary-plane char as ONE symbol,
    //      while Bpe.trainLocal compares UTF-16 code units and sees two
    //      chars — identical only inside the BMP.
    // A single distributed rlike-count per scale factor trips loudly on
    // either. (Java regex matches by code point, so the supplementary
    // plane needs \x{...} classes, not surrogate ranges.)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val bad = graft.queries.Tables
        .load(spark, s"/root/testdata/$sf", "documents")
        .where(org.apache.spark.sql.functions.col("text")
          .rlike("[\\x{E000}-\\x{F8FF}]|[\\x{10000}-\\x{10FFFF}]"))
        .count()
      assert(bad == 0L,
        s"$sf/documents.text: $bad row(s) contain private-use or " +
        "supplementary-plane codepoints — the BPE DuckDB oracle's " +
        "sentinel encoding and code-point collation no longer match " +
        "the UTF-16 trainer (TokenizerQueries.bpeRoundCtes)")
    }
  }

  test("documents.doc_id is non-null and unique in the sf0.001 and " +
      "sf0.01 fixtures") {
    // q_corpus_build's exact-dedup keeper keeps every row whose doc_id
    // equals the min doc_id of its digest group: a duplicate or null
    // doc_id would let two copies survive (Tables' contract)
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val r = graft.queries.Tables
        .load(spark, SfDir.replace("sf0.001", sf), "documents")
        .agg(count(lit(1)),
          count(col("doc_id")), count_distinct(col("doc_id")))
        .head()
      val (rows, nonNull, distinct) = (r.getLong(0), r.getLong(1),
        r.getLong(2))
      assert(rows > 0, s"$sf/documents is empty")
      assert(nonNull == rows, s"$sf/documents: ${rows - nonNull} null doc_id(s)")
      assert(distinct == rows,
        s"$sf/documents: ${rows - distinct} duplicate doc_id(s)")
    }
  }

  test("ScaleFixture round-trips events through the unit-agnostic " +
      "loader (mult=2 replica fixture loads with the same contract)") {
    // The sf0.3 scale verifies in SCALE.md depend on ScaleFixture
    // output loading EXACTLY like driver fixtures. Build a tiny mult=2
    // replica of sf0.001 and assert the post-load events schema matches
    // the same pin — whatever unit the source fixture carried.
    val out = tempPath("scale-fixture-rt")
    graft.ScaleFixture.run(spark, SfDir, out, 2)
    val got = graft.queries.Tables.load(spark, out, "events").schema
      .map(f => f.name -> f.dataType)
    assert(got == Expected("events"),
      s"ScaleFixture events round-trip broke the load contract: $got")
    val n = graft.queries.Tables.load(spark, out, "events").count()
    val n0 = graft.queries.Tables.load(spark, SfDir, "events").count()
    assert(n == 2 * n0, s"mult=2 expected ${2 * n0} events, got $n")
  }

  test("events load normalizes ts without blocking pushdown on " +
      "sibling columns (event_id reaches the scan)") {
    val plan = graft.queries.Tables.load(spark, SfDir, "events")
      .where("event_id % 7 = 0 AND event_id < 5000")
      .select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*event_id".r.findFirstIn(plan).isDefined,
      s"event_id predicate not pushed through the ts-normalized load:\n$plan")
  }
}
