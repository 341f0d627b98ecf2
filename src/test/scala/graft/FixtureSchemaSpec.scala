package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

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
    }
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
