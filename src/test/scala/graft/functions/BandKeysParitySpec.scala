package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Text

/** Pins the native [[HyperplaneBandKeys]] expression to the composite
  * form it replaced in the d5/d9 signature build: for every vector,
  * every band key string must be BYTE-identical to
  * `concat_ws(":", lit(b), Text.hyperplaneBandKey(v, b, bits, dims,
  * center))` — same plane family, same multiply-add order, same
  * driver-computed center offsets, same rendering. Covered geometries:
  * the sf0.1 production point (bits 4 × 12 bands), the sf10 point the
  * scaling law produces (bits 11 × 15 bands), centered and uncentered,
  * plus ragged/edge vectors. [[HyperplaneBandKeys.exactKeys]] is pinned
  * to the cleared integer inequality n·(w·qv) >= w·qsum evaluated in
  * `Long`. */
class BandKeysParitySpec extends SparkSpec {

  private val dims = 64

  // deterministic pseudo-random corpus, incl. edge shapes: a zero
  // vector (every dot exactly 0.0 → the >= 0 boundary), a short vector
  // (ragged min(len, dims) semantics), constant vectors
  private def vectors: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(20260818L)
    val random = (1 to 50).map(_ => Seq.fill(dims)(rnd.nextGaussian()))
    random ++ Seq(
      Seq.fill(dims)(0.0),
      Seq.fill(7)(1.5),
      Seq.fill(dims)(1.0),
      Seq.fill(dims)(-0.25))
  }

  private def compare(bands: Int, bits: Int, center: Seq[Double]): Unit = {
    import spark.implicits._
    val df = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val composite = df.select(col("vec_id"),
      array((0 until bands).map(b => concat_ws(":", lit(b),
        Text.hyperplaneBandKey(col("v"), b, bits, dims, center))): _*)
        .as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = df.select(col("vec_id"),
      HyperplaneBandKeys.keys(col("v"), bands, bits, dims, center).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native.keySet === composite.keySet)
    native.foreach { case (id, ks) =>
      assert(ks === composite(id), s"vec $id, bands=$bands bits=$bits " +
        s"centered=${center.nonEmpty}")
    }
  }

  private def someCenter: Seq[Double] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(dims)(rnd.nextGaussian() * 0.3)
  }

  test("native band keys == composite, sf0.1 geometry (4 bits x 12 bands)") {
    compare(bands = 12, bits = 4, center = Nil)
    compare(bands = 12, bits = 4, center = someCenter)
  }

  test("native band keys == composite, sf10 geometry (11 bits x 15 bands)") {
    compare(bands = 15, bits = 11, center = someCenter)
  }

  test("interpreted eval matches codegen (compute entry point)") {
    // the codegen path calls compute() directly; exercise it without a
    // plan to pin the kernel itself
    val bands = 3; val bits = 5
    val expr = {
      val c = HyperplaneBandKeys.keys(lit(null).cast("array<double>"),
        bands, bits, dims, someCenter)
      org.apache.spark.sql.GraftExpressionBridge.expression(c)
        .asInstanceOf[HyperplaneBandKeys]
    }
    vectors.foreach { v =>
      val a = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.toArray)
      val out = expr.compute(a)
      assert(out.numElements() === bands)
      (0 until bands).foreach { b =>
        val s = out.getUTF8String(b).toString
        assert(s.startsWith(s"$b:"))
        val key = s.substring(s.indexOf(':') + 1).toLong
        assert(key >= 0L && key < (1L << bits))
      }
    }
  }

  /** The cleared centering inequality in `Long`: bit i of band b is set
    * iff n·(w_p·qv) >= w_p·qsum, p = b·bits + i. */
  private def exactReference(qv: Seq[Long], bands: Int, bits: Int,
      qsum: Seq[Long], n: Long): Seq[String] =
    (0 until bands).map { b =>
      val key = (0 until bits).map { i =>
        val w = (0 until dims).map(d => Text.planeWeight(b * bits + i, d).toLong)
        val dot = (0 until dims).map(d => w(d) * qv(d)).sum
        val off = (0 until dims).map(d => w(d) * qsum(d)).sum
        if (n * dot >= off) 1L << i else 0L
      }.sum
      s"$b:$key"
    }

  private def compareExact(vecs: Seq[Seq[Long]], qsum: Seq[Long], n: Long,
      bands: Int = 12, bits: Int = 8): Unit = {
    import spark.implicits._
    val got = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "qv")
      .select(col("vec_id"), HyperplaneBandKeys.exactKeys(col("qv"), bands,
        bits, dims, qsum, n).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got.size === vecs.size)
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) === exactReference(v, bands, bits, qsum, n),
        s"vec $i, n=$n, bands=$bands bits=$bits")
    }
  }

  /** Seeded micro-quantized vectors: components in [lo, lo + span). */
  private def intVectors(count: Int, lo: Long, span: Long,
      seed: Long): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)(Seq.fill(dims)(lo + (rnd.nextDouble() * span).toLong))
  }

  private def sums(vecs: Seq[Seq[Long]]): Seq[Long] =
    (0 until dims).map(d => vecs.map(_(d)).sum)

  test("exactKeys == the Long centering inequality, random integer vectors") {
    val vecs = intVectors(40, -3000000L, 6000000L, 7L)
    compareExact(vecs, sums(vecs), vecs.size.toLong)
    compareExact(vecs, sums(vecs), vecs.size.toLong, bands = 12, bits = 4)
    // the sweep's widest geometry, centered on a corpus the frame is not
    compareExact(vecs, sums(intVectors(13, -5000000L, 9000000L, 8L)), 13L,
      bands = 22, bits = 24)
  }

  test("exactKeys with negative offset sums") {
    // a corpus far below zero: every w·qsum is large and of either sign,
    // and the ceiling runs over negative quotients
    val vecs = intVectors(30, -4000000L, 1000000L, 9L)
    val qsum = sums(vecs)
    assert((0 until 96).exists(p => (0 until dims).map(d =>
      Text.planeWeight(p, d).toLong * qsum(d)).sum < 0))
    compareExact(vecs, qsum, vecs.size.toLong)
  }

  test("exactKeys at the boundary n·(w·qv) == w·qsum") {
    val vecs = intVectors(20, -1000000L, 2000000L, 11L)
    val n = 7L
    // qsum = n·qv0: every plane of vector 0 sits exactly on its
    // threshold (all bits set, `>=`); the others land on either side
    compareExact(vecs, vecs.head.map(_ * n), n)
    // one unit off the boundary in one dimension: the ceiling decides
    compareExact(vecs, vecs.head.zipWithIndex.map { case (x, d) =>
      x * n + (if (d == 3) 1L else 0L) }, n)
    compareExact(vecs, vecs.head.zipWithIndex.map { case (x, d) =>
      x * n - (if (d == 5) 1L else 0L) }, n)
  }

  test("exactKeys with n = 1") {
    val vecs = intVectors(10, -2000000L, 4000000L, 13L)
    compareExact(vecs.take(1), vecs.head, 1L)
    compareExact(vecs, vecs(4), 1L)
  }

  test("exactKeys over an empty frame with n = 0 plans and returns no row") {
    import spark.implicits._
    val rows = Seq.empty[(Long, Seq[Long])].toDF("vec_id", "qv")
      .select(col("vec_id"), HyperplaneBandKeys.exactKeys(col("qv"), 12, 8,
        dims, Seq.fill(dims)(0L), 0L).as("bks"))
      .collect()
    assert(rows.isEmpty)
  }
}
