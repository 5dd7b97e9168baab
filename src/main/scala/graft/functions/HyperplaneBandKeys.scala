package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native random-hyperplane LSH band-key builder: ALL `bands` band keys
  * of a vector in ONE expression evaluation. It is the only code that
  * turns vectors into hyperplane band keys: d5/d9 and s2/s10 call
  * [[HyperplaneBandKeys.keys]], the integer-exact audits d25–d27 call
  * [[HyperplaneBandKeys.exactKeys]].
  *
  * Why the composite form is the wrong shape at scale: the band geometry
  * GROWS with corpus size (ndBitsFor/ndBandsFor — 48 plane dots at
  * sf0.1, 165 at sf10, 294 at sf100), so the projection is a
  * bands·bits-node expression tree whose generated code grows linearly
  * with corpus size and whose per-dot plane array is a boxed
  * GenericArrayData literal. This expression holds the plane family as
  * one flat primitive double[] (plane p at [p·dims, (p+1)·dims)), emits
  * constant-size generated code (one `compute` call per row, the
  * NearestCentroid pattern), and walks the planes in a tight primitive
  * loop.
  *
  * FP contract: per plane,
  * `acc = Σ_d v(d) · w(p,d)` in ascending d — the exact multiply-add
  * order of [[DotProduct]] over the plane literal — compared with
  * `acc >= offset(p)` where offset is the SAME driver-computed
  * `Σ_d center(d) · w(p,d)` literal the composite form folded in. Bit i
  * of band b's key is plane b·bits+i, and the rendered key string is
  * `"<band>:<key>"` — byte-identical to the previous
  * `concat_ws(":", lit(b), bandKey)`. BandKeysParitySpec pins
  * native-vs-composite equality; ragged vectors use the shorter of
  * (vector length, dims) like the dot it replaces.
  *
  * Null semantics: null array → null row (standard null-intolerant
  * UnaryExpression; embedding vectors are non-null by construction —
  * the composite form mapped a null vector to all-zero keys only
  * because `when(null, …)` falls through, a degenerate case no input
  * reaches). Null ELEMENTS inside the array are treated as 0.0 by
  * ArrayData.getDouble, matching the generated dot loop's behavior.
  */
case class HyperplaneBandKeys(child: Expression, bands: Int, bits: Int,
    dims: Int, planes: Array[Double], offsets: Array[Double])
    extends UnaryExpression {

  require(planes.length == bands * bits * dims,
    s"plane matrix must be bands*bits*dims = ${bands * bits * dims} " +
      s"doubles, got ${planes.length}")
  require(offsets.length == bands * bits,
    s"offsets must be bands*bits = ${bands * bits}, got ${offsets.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hp_band_keys expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_hp_band_keys"

  /** Per-row kernel — also the codegen entry point. */
  def compute(a: ArrayData): GenericArrayData = {
    val n = math.min(a.numElements(), dims)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        val p = b * bits + i
        val base = p * dims
        var acc = 0.0
        var d = 0
        while (d < n) { acc += a.getDouble(d) * planes(base + d); d += 1 }
        if (acc >= offsets(p)) key |= (1L << i)
        i += 1
      }
      out(b) = UTF8String.fromString(s"$b:$key")
      b += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) null else compute(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBandKeys", this,
      classOf[HyperplaneBandKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandKeys = copy(child = newChild)
}

object HyperplaneBandKeys {
  /** Column builder: band keys for the [[graft.text.Text.planeWeight]]
    * plane family (global plane index band·bits+i), centered at
    * `center` (empty = uncentered; offsets all 0 — the composite form's
    * `lit(0.0)` threshold). */
  def keys(v: Column, bands: Int, bits: Int, dims: Int,
      center: Seq[Double] = Nil): Column =
    build(v, bands, bits, dims, w =>
      // same driver-side fold the composite form used for its literal
      // threshold: Seq#sum over ascending d
      if (center.isEmpty) 0.0
      else (0 until dims).map(d => center(d) * w(d)).sum)

  /** Integer-exact centered band keys over a quantized vector `qv`
    * (array<long>): bit p is set iff n·(w_p·qv) >= w_p·qsum, i.e. the
    * sign of w_p·(qv − qsum/n) with no FP rounding anywhere, where
    * `qsum`/`n` are the component sums and row count of the vectors
    * the center is taken over. For an integer dot, acc >= x holds
    * exactly when acc >= ⌈x⌉, so each plane's threshold is the
    * driver-side `Long` ceiling ⌈(w_p·qsum) / n⌉. The kernel's double
    * dot over integer terms is exact while every partial sum stays
    * below 2^53 (at most 64 · 1e6 · max|v| for micro-quantized
    * embeddings), so the keys hold bit for bit at any n. n = 0 (an
    * empty input) has no row to key; its thresholds are 0. */
  def exactKeys(qv: Column, bands: Int, bits: Int, dims: Int,
      qsum: Seq[Long], n: Long): Column =
    build(qv.cast("array<double>"), bands, bits, dims, w =>
      if (n <= 0) 0.0
      else {
        val x = (0 until dims).map(d => w(d).toLong * qsum(d)).sum
        (-Math.floorDiv(-x, n)).toDouble
      })

  /** The plane matrix plus one threshold per plane, `offset(w)` of that
    * plane's weights `w(d)`. */
  private def build(v: Column, bands: Int, bits: Int, dims: Int,
      offset: (Int => Double) => Double): Column = {
    val nPlanes = bands * bits
    val planes = new Array[Double](nPlanes * dims)
    val offsets = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      var d = 0
      while (d < dims) {
        planes(p * dims + d) = graft.text.Text.planeWeight(p, d)
        d += 1
      }
      val base = p * dims
      offsets(p) = offset(d => planes(base + d))
      p += 1
    }
    GraftExpressionBridge.column(HyperplaneBandKeys(
      GraftExpressionBridge.expression(v), bands, bits, dims, planes, offsets))
  }
}
