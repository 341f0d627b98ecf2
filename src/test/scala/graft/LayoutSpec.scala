package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

/** Pins the z-ordered write path: every produced file must cover a
  * tight rectangle in BOTH key dimensions (the property file-level
  * pruning feeds on), where a linear single-column sort leaves the
  * second dimension's bounds full-range in every file.
  */
class LayoutSpec extends AnyFunSuite with LocalSparkSuite {

  private val Files16 = 16

  /** Files whose [min, max] bounds on `dim` exclude the point `v` — the
    * file-level statistics a parquet scan prunes on.
    */
  private def pruned(path: String, dim: String, v: Int): Long =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(dim).as("lo"), max(dim).as("hi"))
      .where(lit(v) < col("lo") || lit(v) > col("hi"))
      .count()

  test("z-ordered files prune on BOTH dimensions where a linear sort " +
      "prunes on its leading column only") {
    // both keys wrapped onto the full 1024 grid (sf0.01 partkey spans
    // ~2000, orderkey ~60000 — the mod makes each ~uniform)
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select((col("l_orderkey") % 1024).as("ok"),
        (col("l_partkey") % 1024).as("pk"))
    val base = tempPath("layout")

    Layout.writeZOrdered(li, s"$base/z", col("ok"), col("pk"),
      numFiles = Files16, bits = 10)
    li.repartitionByRange(Files16, col("ok")).sortWithinPartitions("ok")
      .write.parquet(s"$base/linear")

    // Z-order's payoff is BALANCE, not total covered area (16 z-ranges
    // and 16 linear strips tile ~the same total area): every file gets
    // bounded extent in BOTH dimensions, so a point predicate on either
    // column excludes most files on footer stats. The linear layout
    // prunes ok perfectly and pk not at all.
    val zOk = pruned(s"$base/z", "ok", 7)
    val zPk = pruned(s"$base/z", "pk", 7)
    val linOk = pruned(s"$base/linear", "ok", 7)
    val linPk = pruned(s"$base/linear", "pk", 7)
    assert(zOk >= Files16 / 2, s"z-layout: only $zOk/$Files16 files exclude ok=7")
    assert(zPk >= Files16 / 2, s"z-layout: only $zPk/$Files16 files exclude pk=7")
    assert(linPk <= 2,
      s"fixture broke: linear layout should span pk in every file, pruned $linPk")
    assert(math.min(zOk, zPk) > math.min(linOk, linPk),
      s"z worst-dimension pruning ($zOk, $zPk) must beat linear's ($linOk, $linPk)")
  }

  test("three-key z-order prunes on ALL THREE dimensions in balance " +
      "where a linear sort covers only its leading column") {
    // third key: truncated price, not suppkey — suppkey's ~100 distinct
    // values at sf0.01 never touch the grid's high bits, so no file
    // could bound it (the same reason q_zorder3 audits price)
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select((col("l_orderkey") % 1024).as("ok"),
        (col("l_partkey") % 1024).as("pk"),
        (col("l_extendedprice").cast("long") % 1024).as("ep"))
    val base = tempPath("layout3")

    Layout.writeZOrderedN(li, s"$base/z",
      Seq(col("ok"), col("pk"), col("ep")), numFiles = Files16, bits = 10)
    li.repartitionByRange(Files16, col("ok")).sortWithinPartitions("ok")
      .write.parquet(s"$base/linear")

    val dims = Seq("ok", "pk", "ep")
    val z = dims.map(d => d -> pruned(s"$base/z", d, 7)).toMap
    val lin = dims.map(d => d -> pruned(s"$base/linear", d, 7)).toMap
    // every dimension — including the two a linear layout ignores —
    // must prune a majority of files on footer stats alone
    dims.foreach { d =>
      assert(z(d) >= Files16 / 2,
        s"z-layout: only ${z(d)}/$Files16 files exclude $d=7")
    }
    assert(lin("pk") <= 2 && lin("ep") <= 2,
      s"fixture broke: linear layout should span pk/ep in every file, " +
        s"pruned ${lin("pk")}/${lin("ep")}")
    assert(dims.map(z).min > dims.map(lin).min,
      s"z worst-dimension pruning $z must beat linear's $lin")
    // BALANCE: the three dimensions' pruning counts stay close — the
    // interleave gives no dimension structural priority (each key owns
    // every third bit)
    assert(dims.map(z).max - dims.map(z).min <= Files16 / 4,
      s"per-dimension pruning should be balanced, got $z")
  }

  test("zorderBy is a pure re-clustering: same rows, no loss") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select((col("l_orderkey") % 4096).as("ok"),
        (col("l_partkey") % 4096).as("pk"))
    val z = Layout.zorderBy(li, col("ok"), col("pk"), 8, bits = 12)
    assert(z.count() == li.count())
    val diff = li.groupBy("ok", "pk").count()
      .join(z.groupBy("ok", "pk").count()
        .withColumnRenamed("count", "zc"), Seq("ok", "pk"), "full")
      .where(col("count").isNull || col("zc").isNull ||
        col("count") =!= col("zc"))
      .count()
    assert(diff == 0, s"$diff (ok, pk) groups differ after zorderBy")
  }
}
