package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark build function over a scale-factor
  * directory plus (when SQL-expressible) the equivalent DuckDB oracle SQL
  * over the same parquet tables.
  *
  * Column-name contract: the driver sorts columns by name before hashing,
  * so the Spark result and the oracle result must use IDENTICAL column
  * names — every computed column is aliased on both sides.
  *
  * Determinism contract: money sums go through DECIMAL so that Spark's
  * partial-aggregation order and DuckDB's single-node order cannot produce
  * different floating-point roundings; per-row double arithmetic is kept
  * bitwise-identical on both sides (same IEEE ops in the same order).
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

/** Engine-agnostic deterministic rounding: floor(x*p + 0.5)/p is a fixed
  * sequence of IEEE-754 ops, so Spark and DuckDB produce bit-identical
  * results. (Spark's own `round` goes through the double's shortest
  * decimal string + HALF_UP, which disagrees with binary rounding on
  * values like 1222.745 — exactly the kind of money midpoint TPC-H data
  * is full of.)
  */
object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.floor

  def r2(c: Column): Column = floor(c * 100 + 0.5) / 100
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Integer quantization for MEMBERSHIP CUTS: floor(x*10000 + 0.5) as a
    * long. A threshold filter written `r4q(x) >= round(t*10000)` compares
    * exact integers on both engines, so the cut itself has no
    * representable-boundary case (`r4(x) >= t` compares two doubles —
    * structurally safe only when t*10000 is exactly representable AND
    * both engines quantize identically, which holds but is worth not
    * relying on). r4(x) == r4q(x)/10000 bit-for-bit: Spark's floor
    * already returns LongType, so r4's division IS long/int -> double.
    */
  def r4q(c: Column): Column = floor(c * 10000 + 0.5)

  /** DuckDB twin of TextFunctions.tokens over the `text` column:
    * whitespace split, empty tokens dropped.
    */
  val sqlTokens: String =
    """list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)"""

  def sqlR2(expr: String): String = s"floor(($expr) * 100 + 0.5) / 100"
  def sqlR4(expr: String): String = s"floor(($expr) * 10000 + 0.5) / 10000"

  /** Oracle-side integer quantization: DuckDB's floor returns DOUBLE, but
    * its value is an exact integer, so the BIGINT cast is lossless (the
    * half-even rounding CAST applies to non-integral doubles never
    * fires).
    */
  def sqlR4q(expr: String): String =
    s"CAST(floor(($expr) * 10000 + 0.5) AS BIGINT)"

  /** Integer value of 12 hex digits of md5(`expr`) starting at 1-based
    * hex position `start` — 48 bits, exact in BIGINT (and inside the
    * double `power(16, 11)` = 2^44 < 2^53). The SQL twin of
    * expressions.MinHashSignature.int48 / Md5DoubleHash: start=1 reads
    * digest bytes 0..5 (the `a` slice), start=13 bytes 6..11 (`b`).
    */
  def sqlMd5Int48(expr: String, start: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(0, 11),
       j -> CAST(instr('0123456789abcdef',
              substr(md5($expr), $start + j, 1)) - 1 AS BIGINT)
            * CAST(power(16, 11 - j) AS BIGINT))) AS BIGINT)"""
}

/** Fixture tables. Contract: `documents.doc_id` is non-null and unique.
  * q_corpus_build's exact-dedup keeper keeps every row whose doc_id is
  * the min of its digest group, so a duplicate or null doc_id would let
  * two copies survive. FixtureSchemaSpec pins it on the fixtures.
  *
  * Every parquet read of the library goes through [[read]], which takes
  * the schema from one parquet footer read on the driver instead of
  * letting Spark infer it. Spark's inference (`mergeSchemasInParallel`)
  * runs one Spark job per read, even for a single file, and on the
  * small fixtures that job is a visible share of a query's build time.
  * No schema is cached across calls: every read pays its own footer
  * read, so a rewritten table is never read with a stale schema.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
    TimestampType}

  /** Load one fixture table, normalizing `events.ts` to session-local
    * TimestampType REGARDLESS of the fixture's parquet encoding. The
    * driver has shipped this column as both TIMESTAMP(NANOS) (readable
    * only via the nanosAsLong legacy long shim) and native
    * TIMESTAMP(MICROS) (which Spark infers as TIMESTAMP_NTZ for
    * isAdjustedToUTC=false), so dispatch on the OBSERVED type rather
    * than assuming a unit:
    *   - LongType        → nano long; truncate ns→us (integer `div`,
    *                       matching DuckDB's ns->us truncation exactly)
    *   - TimestampNTZType→ cast; session tz is UTC (Sessions.tune), so
    *                       wall time == epoch micros, i.e. lossless
    *   - TimestampType   → already what every query expects
    * nanosAsLong is set unconditionally: it only affects NANOS columns,
    * and setting it before the read is what makes a NANOS fixture load
    * at all instead of throwing "Illegal Parquet type".
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$dir/$name.parquet")
      df.withColumn("ts", normalizedTs(df, "ts"))
    } else {
      read(spark, s"$dir/$name.parquet")
    }

  /** A parquet read whose schema comes from one parquet footer read on
    * the driver, so the read runs no Spark job.
    *
    * The footer is the one Spark's own inference would read (without
    * `mergeSchema`): the path itself when it is a file, else the first
    * data file, by path, of a flat directory. Names that start with `_`
    * or `.` are not data files (`_SUCCESS`, checksum files). The footer
    * is read with Spark's own footer reader, row groups skipped, and goes
    * through Spark's `readSchemaFromFooter` with a converter built
    * from the session's SQL conf, so a Spark-written file keeps its
    * embedded Spark schema and any other file gets the same
    * `nanosAsLong`, `inferTimestampNTZ`, binary and INT96 rules as an
    * inferred read.
    *
    * Layouts with no single footer to read fall back to plain
    * `spark.read.parquet`, keeping Spark's own errors and partition
    * inference: a missing path (a glob pattern included), a directory
    * with no data file, a nested or partitioned directory, and a file
    * whose footer cannot be read or converted.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String)
      : Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

    def dataFile(st: FileStatus): Boolean =
      !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")

    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val file = root.flatMap { st =>
      if (st.isFile) Some(st).filter(dataFile)
      else {
        val data = fs.listStatus(p).toSeq.filter(dataFile)
        if (data.exists(_.isDirectory)) None
        else data.sortBy(_.getPath.toString).headOption
      }
    }
    file.flatMap { st =>
      scala.util.Try(ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))).toOption
    }
  }

  /** The unit dispatch itself, usable on ANY frame carrying the events
    * `ts` column — StreamBench's lake-tail stream normalizes with the
    * same rule (a streaming DF can't go through `load`).
    */
  def normalizedTs(df: DataFrame, colName: String)
      : org.apache.spark.sql.Column =
    df.schema(colName).dataType match {
      case LongType => timestamp_micros(expr(s"$colName div 1000"))
      case TimestampNTZType => col(colName).cast(TimestampType)
      case TimestampType => col(colName)
      case other => sys.error(
        s"events.$colName: unexpected fixture type $other — Tables " +
        "knows nanos-as-long, TIMESTAMP_NTZ (micros), and TIMESTAMP; " +
        "the driver's testdata encoding changed again")
    }
}
