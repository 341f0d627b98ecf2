package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every catalog query must survive NULL-bearing rows.
  *
  * The driver fixtures carry no NULLs, so until this spec nothing pinned
  * what the catalog does when an upstream extractor emits one — a crawl
  * row whose text failed to parse, an event with no props payload, a
  * document with no detected language. That input is ROUTINE at corpus
  * scale, and the library contract is: NULL rows flow through or drop
  * out per each query's own semantics, but never throw.
  *
  * Fixture: the sf0.001 tables with documents.text/lang/source nullified
  * on a third of the rows (doc_id % 3 == 0) and events.props nullified
  * on event_id % 3 == 0. Embeddings stay intact — a NULL vector is a
  * malformed row by the embedding-table contract (fixed-dim arrays),
  * not a routine missing value.
  */
class NullRowsSpec extends AnyFunSuite with LocalSparkSuite {

  private val SrcDir = "/root/testdata/sf0.001"

  private lazy val nullDir: String = {
    val dir = tempPath("nullsf")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "embeddings"))
      spark.read.parquet(s"$SrcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"$SrcDir/documents.parquet")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, lit(null: String))
          .otherwise(col("text")))
      .withColumn("lang",
        when(col("doc_id") % 3 === 0, lit(null: String))
          .otherwise(col("lang")))
      .withColumn("source",
        when(col("doc_id") % 3 === 0, lit(null: String))
          .otherwise(col("source")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ev = spark.read.parquet(s"$SrcDir/events.parquet")
    ev.withColumn("props",
        when(col("event_id") % 3 === 0, lit(null: String))
          .otherwise(col("props")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("all catalog queries execute on a NULL-bearing corpus") {
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, nullDir).collect()
        ()
      } catch {
        case e: Throwable =>
          failures(name) =
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on NULL-bearing input:\n" +
        failures.map { case (k, v) => s"  $k -> $v" }.mkString("\n"))
  }

  test("NULL text drops out of dedup, not into a spurious cluster") {
    // md5(NULL) is NULL: null-text docs must not group together as
    // "identical" documents in the exact-dedup census
    val out = SparkEntry.queries("q_dedup_exact")(spark, nullDir)
    val nNullTextDocs = spark.read.parquet(s"$nullDir/documents.parquet")
      .where(col("text").isNull).count()
    assert(nNullTextDocs > 0, "fixture bug: no NULL text planted")
    val maxCopies = out.agg(max(col("n_copies"))).head().getLong(0)
    assert(maxCopies < nNullTextDocs,
      "NULL-text docs appear to have been grouped as one dup cluster")
    // and each NULL-text doc is its own singleton group
    val nullSingletons = out
      .where(col("fp").startsWith("null:")).agg(
        count(lit(1)).as("n"), max("n_copies").as("mx")).head()
    assert(nullSingletons.getLong(0) == nNullTextDocs)
    assert(nullSingletons.getLong(1) == 1L)
  }

  test("admit: NULL-text delta docs are not exact dups of each other") {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    val existing = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val delta = Seq((10L, null: String), (11L, null: String),
      (12L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = graft.operators.Incremental.admit(existing, delta)
      .as[(Long, String)].collect().toMap
    assert(out == Map(10L -> "accepted", 11L -> "accepted",
      12L -> "exact_dup_existing"), s"got $out")
  }
}
