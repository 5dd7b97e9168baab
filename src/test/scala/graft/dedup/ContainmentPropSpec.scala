package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Text

/** Randomized battery for [[DedupQueries.containmentPairs]]: on
  * arbitrary generated corpora the operator must equal a driver-side
  * brute force over the SAME band-collision candidates — exact shingle
  * intersections, the integer threshold test, both containment ratios,
  * and the tie-broken contained_doc. Covers what the planted-pair spec
  * cannot: many docs, repeated words, sub- and super-threshold
  * intersections in one frame, and empty band indexes. */
class ContainmentPropSpec extends SparkSpec {

  private def brute(shingles: Map[Long, Set[String]],
      cands: Set[(Long, Long)]): Map[(Long, Long), (Long, Long, Long, Long)] =
    cands.flatMap { case (d1, d2) =>
      val (s1, s2) = (shingles(d1), shingles(d2))
      val inter = (s1 intersect s2).size.toLong
      val (n1, n2) = (s1.size.toLong, s2.size.toLong)
      if (inter * DedupQueries.ContainDenom >=
          DedupQueries.ContainNum * math.min(n1, n2))
        Some((d1, d2) ->
          (n1, n2, inter, if (n1 <= n2) d1 else d2))
      else None
    }.toMap

  test("random corpora: containment equals driver brute force over " +
      "the same band candidates") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val vocab = ('a' to 't').map(c => s"w$c")
    for (trial <- 1 to 4) {
      val nDocs = 4 + rnd.nextInt(12)
      val docs = (1L to nDocs.toLong).map { id =>
        // overlapping windows of a shared vocab → plenty of shared
        // shingles at varied intersection sizes
        val start = rnd.nextInt(vocab.size - 4)
        val len = 4 + rnd.nextInt(vocab.size - start - 3)
        id -> vocab.slice(start, start + len).mkString(" ")
      }
      val f = docs.toDF("doc_id", "text")
        .select(col("doc_id"), Text.words(col("text")).as("w"))
        .select(col("doc_id"), Text.wordShingles(col("w"), 2).as("sh"))
        .withColumn("mh", Text.minhash(col("sh"), DedupQueries.MinhashK))
      val banded = f.select(col("doc_id"),
          explode(Text.bandKeys(col("mh"),
            DedupQueries.Bands, DedupQueries.Rows)).as("bk0"))
        .select(col("doc_id"), unhex(col("bk0")).as("bk"))
      val got = DedupQueries.containmentPairs(banded,
          DedupQueries.fingerprinted(f.select("doc_id", "sh")))
        .collect()
        .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")) ->
          (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
            r.getAs[Long]("inter"), r.getAs[Long]("contained_doc")))
        .toMap
      // the same candidates the operator saw: band-key collisions
      val cands = banded.as("x").join(banded.as("y"),
          col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val shingles = f.select("doc_id", "sh").collect()
        .map(r => r.getLong(0) ->
          r.getAs[collection.Seq[String]](1).toSet).toMap
      assert(got === brute(shingles, cands), s"trial $trial diverged")
      assert(got.nonEmpty, s"trial $trial degenerate: no pairs at all")
    }
  }

  test("empty band index: empty result, no throw") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "bk")
    val docs = DedupQueries.fingerprinted(
      Seq((1L, Seq("a b"))).toDF("doc_id", "sh"))
    assert(DedupQueries.containmentPairs(empty, docs).count() === 0L)
  }
}
