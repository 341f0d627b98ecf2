package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries._

/** The bench headliners (`QueryDef.bench`), each built through its
  * `QueryDef.build` and executed into the noop sink, one after another
  * in name order. One untimed pass first observes every query's row
  * count and order-insensitive content hash (run.py compares them with
  * the values pinned for the fixture); timed passes are whole passes,
  * and a timed query counts as failed when it throws.
  */
object BatchHeadliners extends Workload {
  val name = "batch_headliners"

  /** Query module of each registered query, by the object defining it. */
  def modules: Map[String, String] = Seq(
    "relational" -> RelationalQueries.defs, "window" -> WindowQueries.defs,
    "join" -> JoinQueries.defs, "text" -> TextQueries.defs,
    "tokenizer" -> TokenizerQueries.defs,
    "similarity" -> SimilarityQueries.defs,
    "multimodal" -> MultimodalQueries.defs,
    "analytics" -> AnalyticsQueries.defs,
    "pipeline" -> PipelineQueries.defs)
    .flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap

  def run(spark: SparkSession, run: Run): Unit = {
    val builds = SparkEntry.benchQueries
    val module = modules
    // a fixed order: with a seeded one the heap left behind and the
    // latency of a pass moved with the order (the fixture is fixed too, so
    // that its content hashes can be pinned; --seed does not apply here)
    val order = builds.keys.toSeq.sorted

    def execute(q: String): Unit = {
      spark.catalog.clearCache()
      run.span("query", "query" -> q, "module" -> module(q)) {
        val df = run.span("build")(builds(q)(spark, run.dataDir))
        run.span("exec")(df.write.mode("overwrite").format("noop").save())
      }
    }

    // the untimed pass: each query once into the noop sink, with its row
    // count and content hash observed on the way
    run.beginWarmup()
    order.foreach { q =>
      spark.catalog.clearCache()
      val check = new Observation()
      val (rows, hash) = try {
        contentHash(builds(q)(spark, run.dataDir), check)
          .write.mode("overwrite").format("noop").save()
        val m = check.get
        (m("rows"), Option(m("hash")).fold("0")(_.toString))
      } catch {
        case NonFatal(e) => (-1L, s"failed: $e")
      }
      run.observe(Map("query" -> q, "rows" -> rows, "hash" -> hash))
    }
    // leave no query's cached intermediates behind for the heap reading
    spark.catalog.clearCache()
    run.endSetup()
    run.measure(minOps = order.size, unit = order.size) { i =>
      val q = order(i % order.size)
      val error = try { execute(q); None }
        catch { case NonFatal(e) => Some(e) }
      run.check(error.isEmpty, s"$q: ${error.orNull}")
      1L
    }
  }

  /** `df` observing its row count and an order-insensitive hash of its
    * rows: the sum of per-row xxhash64 over the columns in name order,
    * with floating point values rendered to 6 significant digits so that
    * summation order cannot move the hash.
    */
  def contentHash(df: DataFrame, check: Observation): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    df.observe(check, count(lit(1)).as("rows"),
      sum(h.cast(DecimalType(38, 0))).as("hash"))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNotNull, format_string("%.6g", c.cast(DoubleType)))
    case ArrayType(et, _) if needsCanon(et) =>
      transform(c, x => canonical(x, et))
    case st: StructType if needsCanon(st) =>
      when(c.isNotNull, struct(st.fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }
}
