package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** d22 + the bottom-k channel on a PLANTED size-gap corpus — the
  * measurement the round-11 verdict asked for ("audit d18's recall
  * honestly") plus the recorded decision.
  *
  * Corpus: for each gap ratio r in {2, 4, 6, 8}, ten (S, L) pairs
  * where S is 40 unique words and L is S followed by (r-1)*40 unique
  * filler words — containment(S, L) = 1.0 while Jaccard ≈ 1/r, the
  * exact shape minhash banding is worst at. All words are globally
  * unique across plants, so the truth set is precisely the 40 planted
  * pairs.
  *
  * Measured curve on this corpus (deterministic, md5-keyed):
  * band-only recall collapses with the gap (theory 1-(1-J²)^32:
  * ~100% at 2x, ~86% at 4x, ~38% at 8x) while the combined
  * band ∪ bottom-k pipeline stays high (bottom-k theory
  * 1-(1-1/r)^16: ~99% at 4x, ~88% at 8x). DECISION RECORDED: the
  * bottom-k channel (containmentCandidates) ships as d18's default —
  * the size-stratified-banding alternative was not needed; d22 is the
  * committed audit that keeps the claim measured. */
class ContainmentRecallSpec extends SparkSpec {

  private val ratios = Seq(2, 4, 6, 8)
  private val pairsPerRatio = 10
  private val shortWords = 40

  private lazy val dir: String = {
    import spark.implicits._
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var id = 1L
    var w = 0L
    def words(k: Int): Seq[String] = (1 to k).map { _ => w += 1; s"w$w" }
    for (r <- ratios; _ <- 1 to pairsPerRatio) {
      val s = words(shortWords)
      val l = s ++ words((r - 1) * shortWords)
      docs += ((id, s.mkString(" "), "en", "plant", s.mkString(" ").length.toLong))
      docs += ((id + 1, l.mkString(" "), "en", "plant", l.mkString(" ").length.toLong))
      id += 2
    }
    val d = tempDir("graft-d22-gap").toString
    docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def recallByBucket(found: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] = {
    // truth from the plant layout itself: pair (2k-1, 2k) at its ratio
    val truthBuckets = ratios.flatMap { r =>
      Seq.fill(pairsPerRatio)(math.min(r.toLong, 4L))
    }
    val f = found.select("doc1", "doc2").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    var idx = 0L
    val hits = scala.collection.mutable.Map[Long, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    truthBuckets.foreach { b =>
      val (d1, d2) = (idx * 2 + 1, idx * 2 + 2)
      val (t, h) = hits(b)
      hits(b) = (t + 1, h + (if (f((d1, d2))) 1L else 0L))
      idx += 1
    }
    hits.toMap
  }

  test("d22 audits the planted gap corpus: combined recall holds where banding decays") {
    val combined = recallByBucket(DedupQueries.containmentVerify(
      DedupQueries.containmentCandidates(spark, dir),
      DedupQueries.shingled(spark, dir)))
    val bandOnly = recallByBucket(DedupQueries.containmentPairs(
      DedupQueries.cappedBanded(spark, dir),
      DedupQueries.shingled(spark, dir)))
    // the audit query itself agrees with the hand recount
    val d22 = DedupQueries.defs("d22_containment_recall").fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    combined.foreach { case (bucket, (t, h)) =>
      assert(d22(bucket)._1 === t, s"bucket $bucket truth")
      assert(d22(bucket)._2 === h, s"bucket $bucket found")
    }
    Seq(2L, 4L).foreach { b =>
      info(s"bucket $b: band-only ${bandOnly(b)._2}/${bandOnly(b)._1}, " +
        s"combined ${combined(b)._2}/${combined(b)._1}")
    }
    // bucket 2 (the easy gap): both channels essentially complete
    assert(combined(2L)._2.toDouble / combined(2L)._1 >= 0.9)
    // bucket 4 (gaps 4-8x): the combined pipeline must hold a recall
    // floor the band channel alone cannot promise
    val (t4, h4) = combined(4L)
    assert(h4.toDouble / t4 >= 0.8,
      s"combined recall at wide gaps fell to $h4/$t4")
    assert(h4 >= bandOnly(4L)._2,
      "bottom-k channel lost pairs the band channel found")
    // the decay being mitigated is REAL on this corpus: if banding
    // alone already recalls everything, the fixture isn't exercising
    // the failure mode this spec exists to gate
    assert(bandOnly(4L)._2 < t4,
      "fixture invalid: banding alone has perfect wide-gap recall")
  }
}
