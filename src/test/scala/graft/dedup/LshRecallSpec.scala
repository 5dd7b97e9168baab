package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** d21 LSH recall evaluation: the single-row report's counts are
  * recomputed from first principles (driver-side exact Jaccard over
  * the audit slice; the shared pair table for the found side). */
class LshRecallSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private lazy val row =
    DedupQueries.defs("d21_lsh_recall").fn(spark, sf).collect().head

  test("found is a subset of truth; identities hold") {
    assert(row.getLong(1) <= row.getLong(0), "found > truth")
    assert(row.getLong(2) === row.getLong(0) - row.getLong(1))
    if (row.getLong(0) > 0L)
      assert(row.getLong(3) ===
        row.getLong(1) * 1000000L / row.getLong(0))
    if (row.getLong(2) === 0L)
      assert(row.isNullAt(4), "no misses -> NULL mean missed jaccard")
    else {
      // misses sit strictly UNDER 1.0 but at/above the threshold
      assert(row.getLong(4) >= (DedupQueries.JaccardThreshold * 1e6).toLong - 1)
      assert(row.getLong(4) <= 1000000L)
    }
  }

  test("truth and found counts match a driver recount") {
    val hi = DedupQueries.shingled(spark, sf)
      .agg(min(col("doc_id"))).collect().head.getLong(0) +
      DedupQueries.LshEvalMaxId
    val slice = DedupQueries.shingled(spark, sf)
      .filter(col("doc_id") < hi && size(col("sh")) > 0)
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[collection.Seq[String]](1).toSet).sortBy(_._1)
    var truth = 0L
    for (i <- slice.indices; j <- (i + 1) until slice.length) {
      val (a, b) = (slice(i)._2, slice(j)._2)
      val inter = (a & b).size
      val union = (a | b).size
      if (union > 0 &&
        inter.toDouble / union >= DedupQueries.JaccardThreshold)
        truth += 1L
    }
    val found = DedupQueries.minhashPairs(spark, sf)
      .filter(col("doc1") < hi && col("doc2") < hi).count()
    assert(row.getLong(0) === truth)
    assert(row.getLong(1) === found)
    assert(truth > 0L, "audit slice has no true pairs at this sf")
  }

  test("audit slice follows the corpus id range (non-dense ids still audited)") {
    // same corpus, every id shifted far past the old absolute bound:
    // a `doc_id < 500` audit would see zero docs and report the
    // vacuous n_truth = 0; the min-anchored slice must reproduce the
    // unshifted report's truth count exactly
    val shifted = tempDir("graft-d21-shift").toString
    graft.sources.Tables.table(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("overwrite").parquet(s"$shifted/documents.parquet")
    val shiftedRow =
      DedupQueries.defs("d21_lsh_recall").fn(spark, shifted).collect().head
    assert(shiftedRow.getLong(0) === row.getLong(0),
      "shifted-id corpus lost its audit slice")
    assert(shiftedRow.getLong(0) > 0L)
  }
}
