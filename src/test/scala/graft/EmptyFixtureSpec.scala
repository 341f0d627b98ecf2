package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every catalog query must survive a ZERO-ROW corpus.
  *
  * At production scale empty inputs are routine — a date slice with no
  * crawl, a tenant with no documents yet, a filter that matched nothing
  * upstream — and a pipeline stage that throws on them turns a quiet day
  * into a paged incident. The contract pinned here: each of the 116
  * catalog queries, run against a fixture whose ten tables carry the
  * real schemas but no rows, must plan, execute, and return a
  * well-formed (almost always empty) result — no driver-side head() on
  * nothing, no divide-by-zero in a fit step, no NPE in an artifact
  * collect.
  *
  * The empty fixture is derived from the sf0.001 parquet by limit(0) on
  * the RAW reads (schemas byte-identical, including the events.ts
  * encoding whichever one the driver fixture carries), so this sweep
  * keeps pinning the real schemas as they evolve.
  */
class EmptyFixtureSpec extends AnyFunSuite with LocalSparkSuite {

  private val SrcDir = "/root/testdata/sf0.001"

  private lazy val emptyDir: String = {
    val dir = tempPath("emptysf")
    // raw reads, no normalization: the empty fixture must carry the
    // exact on-disk schema (nanos-as-long long, TIMESTAMP_NTZ, or
    // TIMESTAMP — whatever this round's driver wrote)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      spark.read.parquet(s"$SrcDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    dir
  }

  test("all catalog queries execute on an empty corpus") {
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, emptyDir).collect()
        ()
      } catch {
        case e: Throwable =>
          failures(name) =
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail on empty input:\n" +
        failures.map { case (k, v) => s"  $k -> $v" }.mkString("\n"))
  }

  test("the flagship entry point returns an empty, well-formed frame") {
    // entry() reads the sf0.001 layout; on the empty twin it must give
    // schema-stable zero rows, not a throw
    val df = SparkEntry.queries("q1_pricing")(spark, emptyDir)
    assert(df.collect().isEmpty)
    assert(df.schema.fieldNames.nonEmpty)
  }
}
