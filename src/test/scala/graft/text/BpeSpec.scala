package graft.text

import graft.SparkSpec

/** t20 BPE vocab induction: hand-computed merges on a fixture corpus,
  * trainer/tokenizer agreement, and t21's per-source fertility. */
class BpeSpec extends SparkSpec {

  test("induce reproduces the hand-computed merge list on a fixture") {
    // corpus: aaab x2, ab x1.
    // r1: (a,a)=4 (two positions in each aaab) beats (a,b)=3 -> aa
    //     aaab -> [aa,a,b] (greedy left-to-right), ab -> [a,b]
    // r2: (a,b)=3 (one in aaab's tail, one in ab) beats (aa,a)=2 -> ab
    //     [aa,a,b] -> [aa,ab]
    // r3: (aa,ab)=2 -> aaab; then no adjacent pairs remain -> stop
    val merges = Bpe.induce(Seq("aaab" -> 2L, "ab" -> 1L), 50, 2L)
    assert(merges.map(m => (m.rank, m.left, m.right, m.merged, m.pairFreq))
      === Seq((1, "a", "a", "aa", 4L), (2, "a", "b", "ab", 3L),
        (3, "aa", "ab", "aaab", 2L)))
    // minPairFreq stops before singleton-tail memorization
    assert(Bpe.induce(Seq("xy" -> 1L), 50, 2L).isEmpty)
    assert(Bpe.induce(Seq("xy" -> 1L), 50, 1L).map(_.merged) === Seq("xy"))
  }

  test("tokenize replays the merge list: training shapes reproduce; " +
      "unseen words fall back gracefully") {
    val merges = Bpe.induce(Seq("aaab" -> 2L, "ab" -> 1L), 50, 2L)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    assert(Bpe.tokenize("aaab", ranks) === Seq("aaab"))
    assert(Bpe.tokenize("ab", ranks) === Seq("ab"))
    // unseen word: rank order applies where it can — (a,a) first, and
    // the leftover (aa,b) pair was never learned
    assert(Bpe.tokenize("aab", ranks) === Seq("aa", "b"))
    assert(Bpe.tokenize("zzz", ranks) === Seq("z", "z", "z"))
    assert(Bpe.tokenize("", ranks).isEmpty)
  }

  test("t20 query emits the fixture merge list through the full path " +
      "(word count -> capped dict -> induction)") {
    import spark.implicits._
    val dir = tempDir("graft-t20").toString
    // source column present like the real catalog (the induction scan
    // reads the shared per-(source, word) checkpoint since r16)
    Seq((1L, "aaab aaab", "x"), (2L, "ab", "x"),
        (3L, null.asInstanceOf[String], "x"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t20_bpe_vocab")(spark, dir)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_freq")))
    assert(out.toSeq === Seq((1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 3L), (3L, "aa", "ab", "aaab", 2L)))
  }

  test("t21 query: per-source fertility on a hand-computed fixture " +
      "(global vocab, per-source application)") {
    import spark.implicits._
    val dir = tempDir("graft-t21").toString
    // global dict: aaab(x2), ab(x1) -> merges (a,a),(a,b),(aa,ab);
    // tokenize: aaab -> [aaab] (1 token), ab -> [ab] (1 token)
    Seq((1L, "aaab aaab", "x"), (2L, "ab", "y"),
        (3L, null.asInstanceOf[String], "y"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t21_bpe_tokenize")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_chars"), r.getAs[Long]("fertility_micro"),
          r.getAs[Long]("char_fertility_micro"),
          r.getAs[Long]("beats_chars"))).toMap
    assert(out === Map(
      "x" -> ((2L, 2L, 8L, 1000000L, 4000000L, 1L)),
      "y" -> ((1L, 1L, 2L, 1000000L, 2000000L, 1L))))
  }
}
