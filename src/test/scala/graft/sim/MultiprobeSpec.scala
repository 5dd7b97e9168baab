package graft.sim

import graft.SparkSpec

/** s15 multi-probe recall: the lsh_band row must grade EXACTLY the
  * candidate set s2 ranks (same index, same keys, no flips), and the
  * multi-probe row can only widen it — more candidates, recall at
  * least as high, and every returned set stays TopK-bounded. */
class MultiprobeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def pairs(name: String): Set[(Long, Long)] =
    graft.SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet

  test("s15: band row == s2's grading; multiprobe only widens") {
    val truth = pairs("s1_ann_bruteforce")
    val s2 = pairs("s2_ann_lsh")
    val rows = graft.SparkEntry.queries("s15_multiprobe_recall")(spark, sf)
      .collect().map(r => r.getAs[String]("method") -> r).toMap
    assert(rows.keySet === Set("lsh_band", "lsh_multiprobe"))
    val band = rows("lsh_band")
    assert(band.getAs[Long]("n_truth") === truth.size.toLong)
    assert(band.getAs[Long]("n_returned") === s2.size.toLong,
      "band method returns exactly s2's top-k")
    assert(band.getAs[Long]("n_hits") === (s2 intersect truth).size.toLong)
    assert(band.getAs[Long]("recall_micro") ===
      (s2 intersect truth).size.toLong * 1000000L / truth.size)
    val multi = rows("lsh_multiprobe")
    assert(multi.getAs[Long]("n_cand_pairs") >=
      band.getAs[Long]("n_cand_pairs"), "probes only add candidates")
    assert(multi.getAs[Long]("recall_micro") >=
      band.getAs[Long]("recall_micro"),
      "a superset of candidates cannot lose exact-reranked recall")
    for (r <- rows.values) {
      assert(r.getAs[Long]("n_returned") <=
        (SimilarityQueries.NumQueries * SimilarityQueries.TopK).toLong)
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_returned"))
    }
  }

  test("s15 degenerate corpus (zero candidates for BOTH methods) still " +
      "emits both method rows as zeros — the r12 ADVICE parity edge " +
      "(oracle spine + engine coalesce must agree)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two ANTIPODAL vectors: sign(dot(-v, p)) complements sign(dot(v, p))
    // for every hyperplane (no zero dots — asserted below), so the two
    // signatures differ in all 4 bits of every band. Band keys never
    // collide, and single-bit probe flips (masks 1/2/4/8) cannot bridge
    // a 4-bit distance: the candidate pair set is EMPTY while brute-force
    // truth is not.
    val v = (0 until 64).map(d => 1.0f + 0.013f * d).toArray
    val df = Seq((0L, "a", v), (1L, "b", v.map(-_)))
      .toDF("vec_id", "label", "embedding")
    val dir = tempDir("graft-s15").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // precondition: complementary signatures (would break only if some
    // plane dot were exactly 0, when >= 0 sets the bit for BOTH signs)
    val sigs = df.select(graft.text.Text.hyperplaneSig(
        graft.text.Text.asDouble(col("embedding")), 16, 64).as("sig"))
      .collect().map(_.getLong(0))
    assert((sigs(0) ^ sigs(1)) === 0xFFFFL,
      s"test vectors must complement all 16 sign bits: ${sigs.toSeq}")

    val rows = graft.SparkEntry.queries("s15_multiprobe_recall")(spark, dir)
      .collect().map(r => r.getAs[String]("method") -> r).toMap
    assert(rows.keySet === Set("lsh_band", "lsh_multiprobe"),
      "a zero-candidate method must not vanish from the report")
    for ((m, r) <- rows) {
      assert(r.getAs[Long]("n_truth") === 2L, m)
      assert(r.getAs[Long]("n_returned") === 0L, m)
      assert(r.getAs[Long]("n_hits") === 0L, m)
      assert(r.getAs[Long]("recall_micro") === 0L, m)
      assert(r.getAs[Long]("n_cand_pairs") === 0L, m)
    }
  }
}
