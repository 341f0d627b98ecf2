package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All random-hyperplane LSH band buckets in ONE native expression pass:
  * array<struct<band:int, h:long>> where bit i of band b's `h` is the
  * sign of the vector's projection onto plane (b, i).
  *
  * Why: the Column-composed form builds nBands x bitsPerBand separate
  * `DotProduct` subtrees feeding a generator — 128 expression evals per
  * row whose generated code outgrows JIT method limits and degrades to
  * interpreted dispatch (measured ~5x slower end-to-end on the near-dup
  * bench). Here the plane matrix is one reference object and the whole
  * signature is a tight O(nBands * bitsPerBand * dim) primitive loop;
  * CodegenFallback costs one virtual call per ROW, noise next to the
  * loop it wraps (same trade as MinHashSignature).
  *
  * PLANE FAMILY: Rademacher (±1) components derived from md5, not
  * gaussians from a JVM RNG — the same engine-portability move as the
  * MinHash/SimHash/CMS md5 double-hash recipe. Component k of plane
  * (b, i) is bit k of md5("hp:<seed>:<b>:<i>:<k/128>") (hex digit
  * k/4, bits high-to-low within the digit), so ANY engine with an md5
  * can reproduce the matrix exactly — the DuckDB oracle for
  * q_embed_neardup_auto builds the identical signs in SQL (at
  * plan-sized band/bit dims), and so do the embed recipes of
  * `tools/check_correctness.py --chunked` (keep all of them in sync
  * if the seed or digest recipe ever changes). Sign-projection
  * LSH only needs a symmetric component distribution for
  * P(collision) = 1 - θ/π; ±1 entries keep that property (this is
  * SimHash's own plane family) while making multiplication EXACT
  * (±v[k] is a sign flip, no rounding), which together with
  * index-order summation on both engines makes the projections
  * bit-for-bit reproducible cross-engine. DEGENERATE inputs: a null or
  * wrong-length vector yields NULL (DotProduct's mismatch contract)
  * and drops out at the explode — never a spurious all-malformed
  * candidate clique at (band, h=0).
  */
case class HyperplaneBands(child: Expression, dim: Int, nBands: Int,
    bitsPerBand: Int, seed: Long)
  extends UnaryExpression with CodegenFallback {

  require(dim > 0 && nBands > 0 && bitsPerBand > 0 && bitsPerBand <= 63)

  @transient private lazy val planes: Array[Array[Double]] =
    HyperplaneBands.signPlanes(dim, nBands, bitsPerBand, seed)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bands requires array<float>/array<double>, got " +
        dt.simpleString)
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val v = new Array[Double](dim)
    var d = 0
    while (d < dim) {
      if (!arr.isNullAt(d))
        v(d) = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      d += 1
    }
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var h = 0L
      var i = 0
      while (i < bitsPerBand) {
        val p = planes(b * bitsPerBand + i)
        var s = 0.0
        var k = 0
        while (k < dim) { s += v(k) * p(k); k += 1 }
        if (s >= 0) h |= (1L << i)
        i += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, h)): InternalRow
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBands = copy(child = newChild)

  override def prettyName: String = "hyperplane_bands"
}

object HyperplaneBands {
  def apply(vec: Column, dim: Int, nBands: Int, bitsPerBand: Int,
      seed: Long): Column =
    ColumnBridge.column(HyperplaneBands(
      ColumnBridge.expression(vec), dim, nBands, bitsPerBand, seed))

  /** The md5-derived ±1 plane matrix (see class scaladoc) — exposed so
    * a spec can pin the exact bit-extraction recipe the DuckDB oracle
    * re-derives in SQL. One digest covers 128 components; higher dims
    * chain digests via the trailing chunk index.
    */
  private[graft] def signPlanes(dim: Int, nBands: Int, bitsPerBand: Int,
      seed: Long): Array[Array[Double]] =
    Array.tabulate(nBands * bitsPerBand) { p =>
      val b = p / bitsPerBand
      val i = p % bitsPerBand
      val hex = new Array[String]((dim + 127) / 128)
      Array.tabulate(dim) { k =>
        val c = k / 128
        if (hex(c) == null) {
          val md = java.security.MessageDigest.getInstance("MD5")
          hex(c) = md.digest(s"hp:$seed:$b:$i:$c".getBytes("UTF-8"))
            .map(x => f"$x%02x").mkString
        }
        val kk = k % 128
        val digit =
          Integer.parseInt(hex(c).charAt(kk / 4).toString, 16)
        if (((digit >> (3 - kk % 4)) & 1) == 1) 1.0 else -1.0
      }
    }
}
