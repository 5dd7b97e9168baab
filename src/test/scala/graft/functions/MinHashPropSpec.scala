package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Algebraic laws of the native MinHash/LSH kernels ([[MinHashOps]]) —
  * the properties every LSH consumer (d2/d12/d14/st7/st8/st10)
  * silently relies on:
  *
  *  - MERGEABILITY: sig(A ∪ B) = elementwise-min(sig(A), sig(B)).
  *    This is what makes sharded/streaming signature computation
  *    correct — partial signatures from any partitioning of the
  *    shingle set combine into the exact whole-set signature.
  *  - set semantics: permutation- and duplicate-invariance.
  *  - range/shape: k entries in [0, P); empty/all-null input → k nulls.
  *  - band keys: bands entries, band-index-prefixed (a constant
  *    signature still yields bands DISTINCT keys), deterministic.
  *
  * Tested directly on the static runtime (no SparkSession): the
  * codegen and interpreted paths both delegate to these functions.
  */
object MinHashPropSpec extends Properties("MinHashOps") {

  private val K = 16

  private val shingle: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("a b c", "日本語", "🎉", "x" * 50, "", "0"))

  private val shingleSet: Gen[List[String]] =
    Gen.nonEmptyListOf(shingle)

  private def arr(ss: Seq[String]): GenericArrayData =
    new GenericArrayData(ss.map(s =>
      UTF8String.fromString(s): Any).toArray)

  private def sig(ss: Seq[String]): Seq[Option[Long]] = {
    val a = MinHashOps.compute(arr(ss), K)
    (0 until a.numElements()).map(i =>
      if (a.isNullAt(i)) None else Some(a.getLong(i)))
  }

  property("mergeability: sig(A++B) = min(sig(A), sig(B))") =
    forAll(shingleSet, shingleSet) { (a, b) =>
      val merged = sig(a ++ b)
      // generator sets are non-empty, so both signatures are defined
      val mins = sig(a).zip(sig(b)).map { case (x, y) =>
        Some(math.min(x.get, y.get)) }
      merged == mins
    }

  property("permutation invariance") =
    forAll(shingleSet, Gen.long) { (a, seed) =>
      sig(new scala.util.Random(seed).shuffle(a)) == sig(a)
    }

  property("duplicate invariance (set semantics)") =
    forAll(shingleSet) { a => sig(a ++ a) == sig(a) }

  property("shape and range: k entries in [0, P)") =
    forAll(shingleSet) { a =>
      val s = sig(a)
      s.length == K && s.forall {
        case Some(v) => v >= 0L && v < MinHashOps.P
        case None => false
      }
    }

  property("empty / all-null input yields k nulls") = {
    val empty = sig(Nil)
    val nulls = MinHashOps.compute(
      new GenericArrayData(Array[Any](null, null)), K)
    empty.length == K && empty.forall(_.isEmpty) &&
      (0 until nulls.numElements()).forall(nulls.isNullAt)
  }

  private def keys(ss: Seq[String], bands: Int, rows: Int): Seq[String] = {
    val a = MinHashOps.bandKeys(MinHashOps.compute(arr(ss), K), bands, rows)
    (0 until a.numElements()).map(a.getUTF8String(_).toString)
  }

  property("band keys: bands entries, all distinct, deterministic") =
    forAll(shingleSet, Gen.choose(1, 4)) { (a, rows) =>
      val bands = K / rows
      val k1 = keys(a, bands, rows)
      k1.length == bands && k1.distinct.length == bands &&
        k1 == keys(a, bands, rows)
    }

  property("band keys of a CONSTANT signature are still distinct " +
      "(band-index prefix)") = {
    val const = new GenericArrayData(Array.fill[Any](K)(7L))
    val a = MinHashOps.bandKeys(const, 8, 2)
    val ks = (0 until a.numElements()).map(a.getUTF8String(_).toString)
    ks.distinct.length == 8
  }

  property("equal shingle SETS collide on every band; candidate " +
      "pairs need only one") =
    forAll(shingleSet, shingleSet) { (a, b) =>
      val (ka, kb) = (keys(a, 8, 2), keys(a.reverse ++ a, 8, 2))
      val kc = keys(b, 8, 2)
      ka == kb && (a.toSet != b.toSet || keys(a, 8, 2) == kc)
    }
}
