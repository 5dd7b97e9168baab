package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** d27 delta-vs-index admission on a PLANTED corpus — the value-pin
  * grade the synthetic tables cannot give (their natural cosines sit
  * near 0 at 64 dims, so every delta is trivially admitted unless a
  * duplicate is planted across the delta/index boundary).
  *
  * Plants, over a 48-vector gaussian background (seeded):
  *  - delta vec 0 is an EXACT copy of index vecs 2 AND 6 — exact
  *    duplicates share every sign bit under any (bits, bands)
  *    geometry, so candidacy is guaranteed, rejection must fire at
  *    cos_micro = 1e6, and the documented tie-break (max cosine, then
  *    SMALLEST index id) must pick 2 over 6;
  *  - delta vec 4 is a NEAR duplicate of index vec 7 (cos 0.97 —
  *    above the ndBandsFor design point, so the geometry guarantee
  *    applies) and must be rejected with best_match 7;
  *  - every other delta vector is an independent gaussian (pairwise
  *    cos ~ N(0, 1/8) at 64 dims, far below the 0.4 admission floor)
  *    and must be admitted.
  */
class DeltaAdmissionSpec extends SparkSpec {
  private val Dims = 64

  test("planted duplicates are rejected with the documented tie-break; " +
      "background deltas are admitted") {
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(77)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def gauss(): Array[Double] =
      unit(Array.fill(Dims)(rnd.nextGaussian()))
    val base = (0 until 48).map(_ => gauss()).toArray
    val dup = gauss()
    base(0) = dup; base(2) = dup; base(6) = dup
    // near-dup at exact cos 0.97 via the planted-pair construction
    val c = 0.97
    val vh = base(7)
    val u0 = gauss()
    val proj = vh.zip(u0).map { case (a, b) => a * b }.sum
    val uh = unit(u0.zip(vh).map { case (u, w) => u - proj * w })
    base(4) = vh.zip(uh).map { case (a, b) =>
      c * a + math.sqrt(1 - c * c) * b }
    val df = base.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq.toDF("vec_id", "embedding")
    val dir = tempDir("graft-d27").toString
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val rows = graft.SparkEntry.queries("d27_delta_admission")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // output = exactly the delta ids (vec_id % DeltaMod == 0)
    assert(rows.keySet ===
      (0 until 48).filter(_ % DedupQueries.DeltaMod == 0)
        .map(_.toLong).toSet)

    val exact = rows(0L)
    assert(exact.getAs[Long]("admitted") === 0L, "exact dup admitted")
    assert(exact.getAs[Long]("best_match") === 2L,
      "tie-break must pick the SMALLEST index id among equal cosines")
    assert(exact.getAs[Long]("best_cos_micro") === 1000000L)

    val near = rows(4L)
    assert(near.getAs[Long]("admitted") === 0L, "near dup admitted")
    assert(near.getAs[Long]("best_match") === 7L)
    assert(math.abs(near.getAs[Long]("best_cos_micro") - 970000L) <= 1L,
      s"planted cos 0.97: ${near.getAs[Long]("best_cos_micro")}")

    val background = rows.keySet - 0L - 4L
    val notAdmitted = background.filter(rows(_).getAs[Long]("admitted") != 1L)
    assert(notAdmitted.isEmpty,
      s"background deltas rejected: $notAdmitted")
    background.foreach { id =>
      assert(rows(id).isNullAt(rows(id).fieldIndex("best_match")))
      assert(rows(id).isNullAt(rows(id).fieldIndex("best_cos_micro")))
    }
  }
}
