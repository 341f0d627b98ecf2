package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.VectorExpressions
import graft.functions.VectorFunctions

/** Native codegen'd vector expressions: Scala API, SQL registration via
  * SparkSessionExtensions, and equivalence with the lambda formulation.
  */
class ExpressionsSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  test("graft_dot: Scala column API over float and double arrays") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0, 5.0, 6.0)))
      .toDF("f", "d")
    val out = df.select(
      VectorExpressions.dot(col("f"), col("d")),
      VectorExpressions.dot(col("f"), col("f"))).head()
    assert(out.getDouble(0) == 32.0) // 4 + 10 + 18
    assert(out.getDouble(1) == 14.0)
  }

  test("graft_dot: registered for SQL via SparkSessionExtensions") {
    val v = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(v == 11.0)
  }

  test("graft_cosine: SQL surface, self-similarity = 1") {
    val v = spark.sql(
      "SELECT graft_cosine(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .as[Double].head()
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("graft_dot matches the interpreted aggregate/zip_with fold bitwise") {
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(50)((
      Array.fill(64)(rng.nextFloat()).toSeq,
      Array.fill(64)(rng.nextFloat()).toSeq))
    val df = vecs.toDF("a", "b")
    val lambdaDot = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diffs = df.select(
      (VectorExpressions.dot(col("a"), col("b")) - lambdaDot).as("d"))
      .as[Double].collect()
    assert(diffs.forall(_ == 0.0)) // identical fold order -> bit-identical
  }

  test("graft_adc_sum: codegen matches the interpreted eval (values and " +
      "out-of-range guard)") {
    import graft.expressions.{AdcSumExpr, PqExpressions}
    // k=4, m=3: table entry sub*4+code holds (sub+1)*100 + code
    val dtable = (0 until 12).map(i => ((i / 4 + 1) * 100 + i % 4).toLong)
    val df = Seq(
      (Seq(0L, 1L, 2L), dtable),
      (Seq(3L, 3L, 3L), dtable),
      (Seq(1L, 0L, 0L), dtable)).toDF("codes", "dt")
    val expr = PqExpressions.adcSum(col("codes"), col("dt"), 4)
    val got = df.select(expr.as("s")).as[Long].collect().toSeq
    // interpreted reference: same rows through nullSafeEval directly
    val ref = Seq(
      Seq(0, 1, 2), Seq(3, 3, 3), Seq(1, 0, 0)).map { codes =>
      codes.zipWithIndex.map { case (c, sub) => dtable(sub * 4 + c) }.sum
    }
    assert(got == ref)
    // codegen path really is active: the expression must not be a
    // CodegenFallback anymore
    assert(!AdcSumExpr(null, null, 4).isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
    // out-of-range code raises with the same message shape
    val bad = Seq((Seq(0L, 4L, 0L), dtable)).toDF("codes", "dt")
    val e = intercept[Exception] {
      bad.select(expr.as("s")).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("adcSum") && msgs.contains("out of range"),
      s"guard message mismatch: $msgs")
  }

  test("l2 distance, normalize, char n-grams") {
    val df = Seq((Seq(3.0f, 4.0f), Seq(0.0f, 0.0f))).toDF("a", "b")
    val row = df.select(
      VectorFunctions.l2Distance(col("a"), col("b")),
      VectorFunctions.normalize(col("a"))).head()
    assert(row.getDouble(0) == 5.0)
    assert(row.getSeq[Double](1) == Seq(0.6, 0.8))
    val grams = Seq("abcd").toDF("text")
      .select(graft.functions.TextFunctions.charNgrams(col("text"), 2))
      .as[Seq[String]].head()
    assert(grams == Seq("ab", "bc", "cd"))
  }

  test("graft_dot: dimension mismatch yields null (codegen + interpreted)") {
    // codegen path (column against column in a projection)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val row = df.select(VectorExpressions.dot(col("a"), col("b"))).head()
    assert(row.isNullAt(0))
    // interpreted path (constant folding evaluates eval())
    val sqlRow = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(1.0D)) AS d").head()
    assert(sqlRow.isNullAt(0))
  }

  test("first_equal_index: first matching position, -1 when disjoint, " +
      "null on shape mismatch; matches the zip_with spelling") {
    val df = Seq(
      (Seq(7L, 8L, 9L), Seq(1L, 8L, 9L)),   // first match at 1 (not 2)
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L)),   // identical -> 0
      (Seq(7L, 8L, 9L), Seq(1L, 2L, 3L)),   // disjoint -> -1
    ).toDF("a", "b")
    val got = df.select(
      VectorExpressions.firstEqualIndex(col("a"), col("b")).as("i"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 0, -1))
    // equivalence with the HOF spelling (1-based array_position -> -1
    // sentinel) on random-ish data, codegen vs interpreted agreement
    val zw = df.select((array_position(
        zip_with(col("a"), col("b"), (p, q) => p === q), true) - 1)
      .cast("int").as("i"))
      .collect().map(_.getInt(0)).toSeq
    assert(zw == got)
    // shape mismatch -> null (the DotProduct convention)
    val mm = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
      .select(VectorExpressions.firstEqualIndex(col("a"), col("b")))
      .head()
    assert(mm.isNullAt(0))
  }

  test("hyperplane_bands: md5 sign-plane recipe matches the external " +
      "derivation the DuckDB oracle re-implements") {
    // Pinned against an INDEPENDENT implementation (python hashlib):
    // component k of plane (band, bit) is bit k of
    // md5("hp:<seed>:<band>:<bit>:0") — hex digit k/4, bits high-to-low
    // within the digit. If this recipe drifts, q_embed_neardup_auto's SQL
    // twin silently diverges from the native expression; this pin fails
    // first and names the plane.
    val planes = graft.expressions.HyperplaneBands
      .signPlanes(dim = 8, nBands = 16, bitsPerBand = 8, seed = 42L)
    val expected = Map(
      (0, 0) -> Seq(1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0),
      (0, 1) -> Seq(1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0),
      (1, 0) -> Seq(-1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0),
      (15, 7) -> Seq(1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0))
    for (((b, i), want) <- expected)
      assert(planes(b * 8 + i).toSeq == want,
        s"plane (band=$b, bit=$i) diverged from the md5 recipe")
  }

  test("hyperplane_bands: deterministic, float/double parity, " +
      "dimension mismatch yields null") {
    val dim = 8
    val vf = Seq(0.5f, -1.0f, 2.0f, 0.1f, -0.3f, 1.5f, -2.0f, 0.7f)
    val df = Seq((vf, vf.map(_.toDouble), Seq(1.0f, 2.0f)))
      .toDF("f", "d", "short")
    def bands(c: String) =
      graft.expressions.HyperplaneBands(col(c), dim, 4, 8, 42L)
    val r = df.select(bands("f").as("bf"), bands("d").as("bd"),
      graft.expressions.HyperplaneBands(col("short"), dim, 4, 8, 42L)
        .as("bs")).head()
    val bf = r.getSeq[Row](0).map(x => (x.getInt(0), x.getLong(1)))
    val bd = r.getSeq[Row](1).map(x => (x.getInt(0), x.getLong(1)))
    // same seed + same vector -> identical buckets, float or double
    assert(bf == bd)
    assert(bf.map(_._1) == Seq(0, 1, 2, 3))
    assert(bf.forall { case (_, h) => h >= 0 && h < 256 })
    // wrong dimension is NULL (the DotProduct mismatch contract)
    assert(r.isNullAt(2))
    // a second evaluation (fresh plan) reproduces the same signature
    val again = df.select(bands("f")).head().getSeq[Row](0)
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(again == bf)
  }

  test("cosine via native dot: null array yields null, self-sim is 1") {
    val df = Seq((Seq(1.0f, 2.0f), Option(Seq(1.0f, 2.0f))),
      (Seq(1.0f, 2.0f), None))
      .toDF("a", "b")
    val out = df.select(VectorFunctions.cosine(col("a"), col("b")))
      .collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0))
  }
}
