package graftbench

import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's fixture: the star schema, events, documents and
  * embeddings tables the headline queries read, generated from one fixed
  * seed so that the content hashes pinned in `expected/` stay valid (a
  * run's `--seed` varies what it publishes, not the fixture).
  *
  * The tables follow the shapes of the test tables the queries were
  * written against (TESTDATA.md: column names and types, key ranges,
  * value domains, a 5% share of near-duplicate documents). Each is
  * written as `<out>/<table>.parquet`, timestamps as TIMESTAMP_NTZ
  * (parquet TIMESTAMP(MICROS) not adjusted to UTC).
  *
  *   graftbench.Fixture <out dir> <scale> <scratch dir>
  */
object Fixture {
  val Seed = 42L

  private val Vocab = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row the agg key query a scan batch").split(" ")

  def main(args: Array[String]): Unit = {
    val Array(out, scale, scratch) = args
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, out, scale.toDouble)
    finally spark.stop()
  }

  def write(spark: SparkSession, out: String, scale: Double): Unit =
    tables(scale).foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$out/$name.parquet")
    }

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  def tables(scale: Double): Seq[(String, (StructType, Seq[Row]))] = {
    val rng = new java.util.Random(Seed)
    def int(lo: Int, hiExcl: Int): Int = lo + rng.nextInt(hiExcl - lo)
    def long(hiExcl: Long): Long = (rng.nextDouble() * hiExcl).toLong
    def uniform(lo: Double, hi: Double): Double =
      lo + rng.nextDouble() * (hi - lo)
    def r2(x: Double): Double = Math.round(x * 100.0) / 100.0
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    def words(n: Int): String = Seq.fill(n)(pick(Vocab.toSeq)).mkString(" ")
    def day(d: LocalDate): LocalDateTime = d.atStartOfDay()

    val nCust = (150000 * scale).toInt
    val nSupp = (10000 * scale).toInt
    val nPart = (200000 * scale).toInt
    val nOrd = (1500000 * scale).toInt
    val nLine = (6000000 * scale).toInt
    val nEv = (1000000 * scale).toInt
    val nDoc = 500.max((50000 * scale).toInt)
    val nEmb = 500.max((20000 * scale).toInt)
    val I = IntegerType
    val L = LongType
    val D = DoubleType
    val S = StringType
    val T = TimestampNTZType

    val region = schemaOf("r_regionkey" -> I, "r_name" -> S) ->
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = schemaOf("n_nationkey" -> I, "n_name" -> S,
      "n_regionkey" -> I) -> (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val customer = schemaOf("c_custkey" -> L, "c_name" -> S,
      "c_nationkey" -> I, "c_acctbal" -> D, "c_mktsegment" -> S) ->
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", int(0, 25),
        r2(uniform(-999.99, 9999.99)), pick(segments)))
    val supplier = schemaOf("s_suppkey" -> L, "s_name" -> S,
      "s_nationkey" -> I, "s_acctbal" -> D) ->
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", int(0, 25),
        r2(uniform(-999.99, 9999.99))))

    val adjs = Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")
    val nouns = Seq("ring", "bolt", "gear", "plate", "widget", "nut", "pipe",
      "valve")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val part = schemaOf("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> D) ->
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjs)} ${pick(nouns)}",
        s"Brand#${int(1, 26)}", pick(types), int(1, 51),
        Math.round((900 + (i % 1000) / 10.0) * 10.0) / 10.0))

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val start = LocalDate.of(1995, 1, 1)
    val span = java.time.temporal.ChronoUnit.DAYS
      .between(start, LocalDate.of(2001, 8, 1)).toInt
    val odate = Array.fill(nOrd)(start.plusDays(int(0, span + 1)))
    val orders = schemaOf("o_orderkey" -> L, "o_custkey" -> L,
      "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> T,
      "o_orderpriority" -> S) ->
      (0 until nOrd).map(i => Row(i.toLong, long(nCust), pick(Seq("O", "F",
        "P")), r2(uniform(1000, 500000)), day(odate(i)), pick(priorities)))

    val lineitem = schemaOf("l_orderkey" -> L, "l_partkey" -> L,
      "l_suppkey" -> L, "l_linenumber" -> I, "l_quantity" -> D,
      "l_extendedprice" -> D, "l_discount" -> D, "l_tax" -> D,
      "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T) ->
      (0 until nLine).map { _ =>
        val o = rng.nextInt(nOrd)
        Row(o.toLong, long(nPart), long(nSupp), int(1, 8),
          int(1, 51).toDouble, r2(uniform(900, 105000)), int(0, 11) / 100.0,
          int(0, 9) / 100.0, pick(Seq("N", "A", "R")), pick(Seq("O", "F")),
          day(odate(o).plusDays(int(1, 122))))
      }

    val etypes = Seq("view", "click", "purchase", "signup", "error")
    val monthUs = 30L * 86400 * 1000000
    val epoch0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val ts = Array.fill(nEv)(long(monthUs)).sorted
    val events = schemaOf("event_id" -> L, "ts" -> T, "user_id" -> L,
      "event_type" -> S, "value" -> D, "props" -> S) ->
      (0 until nEv).map(i => Row(i.toLong,
        epoch0.plusNanos(ts(i) * 1000L), long(150L.max(nEv / 67)),
        pick(etypes), r2(-50.0 * Math.log(1.0 - rng.nextDouble())),
        s"""{"k": ${int(0, 100)}}"""))

    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDoc).foreach { i =>
      // about one document in twenty repeats a recent one plus a marker
      if (i > 20 && rng.nextDouble() < 0.05) texts += texts(i - int(1, 20)) +
        " dup"
      else texts += words(int(8, 101))
    }
    val documents = schemaOf("doc_id" -> L, "text" -> S, "lang" -> S,
      "source" -> S, "n_chars" -> L) ->
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${i % 20}", t.length.toLong)
      }

    val embeddings = schemaOf("vec_id" -> L,
      "embedding" -> ArrayType(FloatType), "label" -> I) ->
      (0 until nEmb).map { i =>
        val v = Array.fill(64)(rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, int(0, 10))
      }

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
