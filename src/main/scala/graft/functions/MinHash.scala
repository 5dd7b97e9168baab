package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst MinHash signature over an `array<string>` shingle
  * column — the k=64 signature in ONE tight per-row loop.
  *
  * Why native: the higher-order-function formulation
  * (`transform(sequence(1,k), i -> array_min(transform(base, ...)))`)
  * evaluates k × |shingles| interpreted lambda hops per row — HOFs
  * never enter whole-stage codegen, and each hop pays NamedLambdaVariable
  * binding + tree-walk overhead. Batch d2 sidesteps that with explode +
  * 64 codegen'd min-aggregates (DedupQueries.signatures), but that shape
  * is a stateful aggregation — unusable on the STREAM side of st7,
  * where the signature must be a stateless row-local projection. This expression computes the identical arithmetic in
  * compiled form: |shingles| md5 digests + k × |shingles| long
  * multiply-mods per row, no per-element interpretation. Measured at
  * sf1 it takes st7 from 531 s (nested HOFs) to stream-rate.
  *
  * Arithmetic contract (byte-identical to the DuckDB oracle twin,
  * DedupQueries.d2CoreSql, and to DedupQueries.signatures):
  *   base  = conv(substring(md5(s), 1, 15), 16, 10)::long % P
  *   a_i   = (i * 40503 + 12345) % (P-1) + 1,  i in 1..k
  *   b_i   = (i * 69069 + 7) % P
  *   sig_i = min over shingles of (a_i * base + b_i) % P
  * with P = 2147483647. Null semantics mirror the HOF form: null input
  * array → null; null/absent shingles are skipped; no usable shingle →
  * an array of k nulls (array_min over an empty array is null).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(a: Any): Any =
    MinHashOps.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashOps.compute($c, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  /** Column API wrapper. */
  def minhash(sh: Column, k: Int): Column =
    GraftExpressionBridge.column(
      MinHashSignature(GraftExpressionBridge.expression(sh), k))
}

/** Native LSH band keys over an `array<long>` MinHash signature —
  * md5(band_index "|" sig values) per band, the banding step of
  * d2/d12/d14/st7.
  *
  * Why native: the HOF formulation
  * (`transform(sequence(0, bands-1), b -> md5(concat_ws("|", b,
  * element_at(mh, b*rows+1), ...)))`) references the signature
  * expression from inside the lambda, so when the SIGNATURE is itself
  * an inline expression (not a materialized column), the interpreted
  * HOF machinery re-evaluates it per `element_at` — bands × rows = 64
  * full signature computations per row. Round 7 hit exactly that: the
  * stateless st7 rewrite inlined shingles→minhash→bandKeys into one
  * projection and went 64× super-linear (20 s for 500 docs at
  * sf0.001). A UnaryExpression evaluates its child ONCE per row by
  * construction, then loops over the bands in compiled code.
  *
  * Arithmetic contract (byte-identical to the HOF form and the DuckDB
  * twin, DedupQueries.d2CoreSql): key_b = md5 hex of the '|'-joined
  * band index and the band's `rows` signature values (nulls skipped,
  * concat_ws semantics). Null input array → null. */
case class LshBandKeys(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_band_keys expects array<long>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_band_keys"

  override def nullSafeEval(a: Any): Any =
    MinHashOps.bandKeys(a.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashOps.bandKeys($c, $bands, $rows);")

  override protected def withNewChildInternal(
      newChild: Expression): LshBandKeys = copy(child = newChild)
}

object LshBandKeys {
  /** Column API wrapper. */
  def bandKeys(mh: Column, bands: Int, rows: Int): Column =
    GraftExpressionBridge.column(
      LshBandKeys(GraftExpressionBridge.expression(mh), bands, rows))
}

/** Native matching-position count over two `array<long>` MinHash
  * signatures — the per-candidate-pair estimate kernel of d2/d14.
  *
  * Why native: the HOF form
  * `aggregate(zip_with(mh1, mh2, (a,b) -> if(a=b,1,0)), 0, +)`
  * evaluates 2·k interpreted lambda hops per pair (HOFs never enter
  * whole-stage codegen), and the estimate runs once per CANDIDATE pair
  * — the corpus-pair-proportional hot path of the signature
  * pre-filter. One compiled loop replaces them.
  *
  * Contract (byte-identical to the HOF form): positions where BOTH
  * values are non-null and equal count 1; a null on either side counts
  * 0 (`when(a === b, 1)` is null→0 under a null operand); the loop
  * runs over min(len) like zip_with-over-equal-lengths (zip_with pads
  * the shorter side with nulls, which can never count). Null input
  * array on either side → null, matching the HOF's null propagation
  * through aggregate. */
case class MinHashMatchCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_mh_match_count expects two array<long>, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_mh_match_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashOps.matchCount(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.MinHashOps.matchCount($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashMatchCount =
    copy(left = newLeft, right = newRight)
}

object MinHashMatchCount {
  /** Column API wrapper. */
  def matchCount(a: Column, b: Column): Column =
    GraftExpressionBridge.column(MinHashMatchCount(
      GraftExpressionBridge.expression(a),
      GraftExpressionBridge.expression(b)))
}

/** Static runtime for [[MinHashSignature]]/[[LshBandKeys]] — a plain
  * object so the generated Java references
  * `graft.functions.MinHashOps.*` through ordinary static
  * forwarders. */
object MinHashOps {
  val P = 2147483647L

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(s) as a base-16 long, mod P — identical
    * to `conv(substring(md5(s),1,15),16,10)::long % P`: the first 8
    * digest bytes big-endian are the first 16 nibbles; `>>> 4` drops
    * the 16th. */
  def baseHash(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    (v >>> 4) % P
  }

  def compute(sh: ArrayData, k: Int): ArrayData = {
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var i = 0
    while (i < k) {
      val ii = i + 1L
      as(i) = (ii * 40503L + 12345L) % (P - 1L) + 1L
      bs(i) = (ii * 69069L + 7L) % P
      i += 1
    }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val n = sh.numElements()
    var j = 0
    while (j < n) {
      if (!sh.isNullAt(j)) {
        seen = true
        val h = baseHash(sh.getUTF8String(j))
        i = 0
        while (i < k) {
          val v = (as(i) * h + bs(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!seen) new GenericArrayData(Array.fill[Any](k)(null))
    else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Equal-and-non-null position count (see [[MinHashMatchCount]]). */
  def matchCount(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) &&
        x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Band keys for a signature: per band b, md5 hex of the '|'-joined
    * band index and the band's `rows` signature values — exactly
    * `md5(concat_ws("|", b, sig[b*rows+1..b*rows+rows]))` including
    * concat_ws's null-skipping. */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val d = md.get()
    val out = new Array[Any](bands)
    val n = sig.numElements()
    val sb = new java.lang.StringBuilder(24)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append(b)
      var r = 0
      while (r < rows) {
        val i = b * rows + r
        if (i < n && !sig.isNullAt(i)) {
          sb.append('|').append(sig.getLong(i))
        }
        r += 1
      }
      d.reset()
      val bytes = d.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexDigits((bytes(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexDigits(bytes(j) & 0xf)
        j += 1
      }
      out(b) = UTF8String.fromString(new String(hex))
      b += 1
    }
    new GenericArrayData(out)
  }
}
