package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {

  private def one[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect().head.getAs[T]("r")
  }

  test("words tokenizes lowercased alphanumerics") {
    assert(one[collection.Seq[String]](Text.words(lit("Hello, World-42!")))
      === Seq("hello", "world", "42"))
  }

  test("bpe token count splits letters, digits, punctuation") {
    // "ab 12!" -> [ab] [1] [2] [!] = 4
    assert(one[Int](Text.bpeTokenCount(lit("ab 12!"))) === 4)
  }

  test("word shingles are distinct in-order n-grams") {
    val sh = one[collection.Seq[String]](
      Text.wordShingles(Text.words(lit("a b c a b c")), 2))
    assert(sh.toSet === Set("a b", "b c", "c a"))
    // shorter than n -> empty
    assert(one[collection.Seq[String]](Text.wordShingles(Text.words(lit("a")), 2)) === collection.Seq.empty[String])
  }

  test("char shingles") {
    assert(one[collection.Seq[String]](Text.charShingles(lit("abcd"), 3))
      === Seq("abc", "bcd"))
  }

  test("jaccard of arrays") {
    assert(one[Double](Text.jaccard(array(lit("a"), lit("b"), lit("c")),
      array(lit("b"), lit("c"), lit("d")))) === 0.5)
  }

  test("pii scrub redacts emails, phones and IPv4s, leaves the rest") {
    val in = "mail bob.smith+x@corp.example.org call 555-123-4567 " +
      "from 192.168.0.1 at five o'clock"
    assert(one[String](Text.piiScrub(lit(in)))
      === "mail [EMAIL] call [PHONE] from [IP] at five o'clock")
    // version-ish dotted numbers shorter than 4 octets survive
    assert(one[String](Text.piiScrub(lit("v1.2.3 is out"))) === "v1.2.3 is out")
    // digits that are not phone-shaped survive
    assert(one[String](Text.piiScrub(lit("order 555-12345"))) === "order 555-12345")
  }

  test("t5/t6 run end-to-end with expected shapes") {
    val sf = "/root/testdata/sf0.001"
    val t5 = graft.SparkEntry.queries("t5_pii_scrub")(spark, sf).collect()
    assert(t5.nonEmpty)
    assert(t5.forall(r => !r.getAs[String]("scrubbed").contains("@")))
    val evens = t5.filter(_.getAs[Long]("c_custkey") % 2 == 0)
    assert(evens.forall(_.getAs[Long]("n_emails") == 1L))
    assert(evens.forall(_.getAs[String]("scrubbed").contains("[EMAIL]")))
    val t6 = graft.SparkEntry.queries("t6_repetition")(spark, sf).collect()
    assert(t6.nonEmpty)
    assert(t6.forall { r =>
      val d = r.getAs[Double]("distinct_ratio")
      d > 0.0 && d <= 1.0 && r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_words")
    })
  }

  test("t7 mixture sampling: en kept fully, others near their target rate") {
    val sf = "/root/testdata/sf0.01"
    val out = graft.SparkEntry.queries("t7_mixture_sample")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"),
          r.getAs[Double]("kept_frac")))
      .toMap
    assert(out("en")._3 === 1.0, "rate-1.0 language must keep everything")
    val rates = graft.text.TextQueries.MixtureRates.toMap
    out.foreach { case (lang, (total, kept, frac)) =>
      val target = rates.getOrElse(lang, graft.text.TextQueries.MixtureDefaultRate)
      assert(kept <= total)
      assert(math.abs(frac - target) < 0.15,
        s"$lang kept_frac $frac too far from target $target")
    }
    // determinism: the coin is content-independent md5(doc_id)
    val again = graft.SparkEntry.queries("t7_mixture_sample")(spark, sf).collect()
    assert(again.length === out.size)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val a = array(lit(1.0), lit(2.0))
    val b = array(lit(-2.0), lit(1.0))
    assert(math.abs(one[Double](Text.cosine(a, a)) - 1.0) < 1e-12)
    assert(math.abs(one[Double](Text.cosine(a, b))) < 1e-12)
  }

  test("rarityMicro survives corpus totals where total*1e6 overflows Long") {
    import spark.implicits._
    // 1.5e13 words ~ a 100-TB text corpus: total * 1_000_000 would be
    // 1.5e19 > Long.MaxValue (9.22e18) — the pre-fix formula's silent
    // overflow point. The rational split must stay exact.
    val total = 15_000_000_000_000L
    val rows = Seq(
      3_000_000_000_000L, // common word: t/c = 5 exactly
      30_000_007L,        // t/c ~ 499999.88 < 1e6: exact split, no cap
      1L                  // hapax: uncapped score is t*1e6 -> must saturate
    ).toDF("c")
    val got = rows.select(Text.rarityMicro(total).as("r"))
      .collect().map(_.getAs[Long]("r"))
    assert(got(0) === 5_000_000L)
    // (t div c)*1e6 + ((t mod c)*1e6) div c, computed independently:
    val c1 = 30_000_007L; val q = total / c1; val m = total % c1
    assert(got(1) === q * 1_000_000L + (m * 1_000_000L) / c1)
    assert(got(1) > 0L && got(1) < Text.RarityCapMicro)
    assert(got(2) === Text.RarityCapMicro,
      "hapax at 100-TB scale must saturate, not overflow")
    // small-corpus regime agrees with the naive formula (cap non-binding)
    val small = Seq(5L, 3L, 1L).toDF("c")
      .select(Text.rarityMicro(1000L).as("r"))
      .collect().map(_.getAs[Long]("r"))
    assert(small.toSeq === Seq((1000L * 1_000_000L) / 5,
      (1000L * 1_000_000L) / 3, 1000L * 1_000_000L))
  }

  test("t8 packing restarts at shard boundaries; window partitions are doc-bounded") {
    import spark.implicits._
    val sd = TextQueries.PackShardDocs
    // one source whose docs straddle the shard boundary: packing must
    // restart (pack never spans shards), bounding every window
    // partition at PackShardDocs rows however large one source grows
    val docs = Seq(
      (sd - 2L, "alpha beta gamma", "en", "s0", 16L),
      (sd - 1L, "delta epsilon", "en", "s0", 13L),
      (sd, "zeta eta theta", "en", "s0", 14L),
      (sd + 1L, "iota kappa", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-t8").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t8_sequence_pack")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"),
          r.getAs[Long]("pack_offset"))).toMap
    assert(out(sd - 2L)._1 === 0L && out(sd)._1 === 1L)
    assert(out(sd - 2L)._3 === 0L, "first doc of shard 0 starts a fresh pack")
    assert(out(sd - 1L)._3 === 3L, "second doc continues shard 0's prefix sum")
    assert(out(sd)._3 === 0L,
      "first doc of shard 1 restarts the prefix sum — packs never span shards")
    assert(out(sd + 1L)._3 === 3L)
  }

  test("wordShinglesAll keeps occurrences (t11's frequency features)") {
    val sh = one[collection.Seq[String]](
      Text.wordShinglesAll(Text.words(lit("a b c a b")), 2))
    assert(sh === Seq("a b", "b c", "c a", "a b"))
    assert(one[collection.Seq[String]](
      Text.wordShinglesAll(Text.words(lit("a")), 2))
      === collection.Seq.empty[String])
  }

  test("t12 perplexity matches hand-computed add-one bigram NLL") {
    import spark.implicits._
    // train subset = en docs: "a b a b" and "z" (vocab {a,b,z}, V=3);
    // bigram counts cb: "a b"->2, "b a"->1; contexts cu: a->2, b->1
    val docs = Seq(
      (0L, "a b a b", "en", "s0", 7L),
      (1L, "c d", "de", "s0", 3L),
      (2L, "z", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-t12").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t12_lm_perplexity")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    // doc0: -(2*ln(3/5) + ln(2/4))/3
    val d0 = -(2 * math.log(3.0 / 5) + math.log(2.0 / 4)) / 3
    assert(out(0L)._1 === 3L)
    assert(math.abs(out(0L)._2 - d0) < 1e-6, s"${out(0L)._2} vs $d0")
    // doc1 (off-train): unseen bigram AND context -> -ln(1/(0+3))
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - math.log(3.0)) < 1e-6)
    // single-word doc: no bigrams, 0.0 score
    assert(out(2L) === (0L, 0.0))
    // the off-train doc scores strictly worse than the in-train doc
    assert(out(1L)._2 > out(0L)._2)
  }

  test("t12 with no training-language docs scores 0.0 (no Inf, no crash)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "c d e", "de", "s0", 5L),
      (1L, "f", "fr", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-t12e").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t12_lm_perplexity")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    assert(out(0L) === (2L, 0.0) && out(1L) === (0L, 0.0))
  }

  test("t13 flags shingles shared by >=3 docs of one source as boilerplate") {
    import spark.implicits._
    val tpl = "one two three four five"
    val docs = Seq(
      (0L, s"$tpl alpha beta", "en", "s0", 1L), // 3 grams, 1 boiler
      (1L, s"$tpl gamma", "en", "s0", 1L),      // 2 grams, 1 boiler
      (2L, tpl, "en", "s0", 1L),                // 1 gram, all boiler
      (3L, tpl, "en", "s1", 1L),                // s1 has 1 doc: NOT boiler
      (4L, "tiny doc", "en", "s0", 1L))         // <5 words: no grams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-t13").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t13_boilerplate")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_boiler"),
          r.getAs[Double]("boiler_frac"), r.getAs[Long]("boiler_heavy")))
      .toMap
    assert(out(0L) === (3L, 1L, 0.333333, 1L))
    assert(out(1L) === (2L, 1L, 0.5, 1L))
    assert(out(2L) === (1L, 1L, 1.0, 1L))
    assert(out(3L) === (1L, 0L, 0.0, 0L),
      "same shingle in a 1-doc source is not boilerplate there")
    assert(out(4L) === (0L, 0L, 0.0, 0L))
  }

  test("t11 importance weights rank the target language's docs highest") {
    // DSIR semantics: under a target = the English subset, English docs
    // should average a higher per-gram log weight than non-English docs
    val out = graft.SparkEntry.queries("t11_importance_weights")(
      spark, "/root/testdata/sf0.001")
    val docs = graft.sources.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val j = out.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .filter(col("n_grams") > 0)
      .withColumn("per_gram", col("log_weight") / col("n_grams"))
      .groupBy(col("lang") === "en").agg(avg(col("per_gram")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(j(true) > j(false),
      s"en mean per-gram weight ${j(true)} must exceed non-en ${j(false)}")
    assert(j(true) > 0 && j(false) < 0,
      "target subset scores positive, off-target negative")
  }

  test("minhash: identical sets get identical signatures; banded keys collide") {
    val sh = array(lit("x y"), lit("y z"), lit("z w"))
    val m1 = one[collection.Seq[Long]](Text.minhash(sh, 16))
    val m2 = one[collection.Seq[Long]](Text.minhash(sh, 16))
    assert(m1 === m2 && m1.size === 16)
    assert(m1.forall(h => h >= 0 && h < Text.MinhashP))
  }

  test("native minhash expression matches the explode+min-agg signature frame") {
    // two independent implementations of the same signature arithmetic:
    // the per-row native expression (stream side) vs d2's exploded
    // shingle rows with 64 codegen'd min-aggregates (batch side, the
    // oracle-pinned path). Byte-identical on every doc, or the st7
    // stream and its batch/DuckDB twins silently diverge.
    import graft.dedup.DedupQueries
    val sf = "/root/testdata/sf0.001"
    val viaExpr = DedupQueries.shingled(spark, sf)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), Text.minhash(col("sh"), DedupQueries.MinhashK).as("mh"))
    val rows = viaExpr.alias("e")
      .join(DedupQueries.signatures(spark, sf).alias("a"), "doc_id")
      .select(col("doc_id"), col("e.mh").as("m1"), col("a.mh").as("m2"))
      .collect()
    assert(rows.length > 100, "expected a doc per row at sf0.001")
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("native band keys are byte-identical to the HOF md5/concat_ws form") {
    // the HOF formulation LshBandKeys replaced, kept as the
    // differential reference (including concat_ws's null-skipping)
    import graft.dedup.DedupQueries.{MinhashK, Bands, Rows}
    def hofBandKeys(mh: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(Bands - 1)), b => {
        val parts = (1 to Rows).map(r =>
          element_at(mh, b * lit(Rows) + lit(r)).cast("string"))
        md5(concat_ws("|", (b.cast("string") +: parts): _*))
      })
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        Text.minhash(Text.wordShingles(col("w"), 2), MinhashK).as("mh"))
    val rows = docs.select(col("doc_id"),
        Text.bandKeys(col("mh"), Bands, Rows).as("native"),
        hofBandKeys(col("mh")).as("hof"))
      .collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"doc ${r.getLong(0)}")
    }
    // null-skipping: a signature with a null entry drops that part
    val withNull = array(lit(5L), lit(null).cast("long"), lit(7L), lit(9L))
    val n = spark.range(1).select(
      Text.bandKeys(withNull, 2, 2).as("native"),
      transform(sequence(lit(0), lit(1)), b => {
        val parts = (1 to 2).map(r =>
          element_at(withNull, b * lit(2) + lit(r)).cast("string"))
        md5(concat_ws("|", (b.cast("string") +: parts): _*))
      }).as("hof")).head()
    assert(n.getSeq[String](0) === n.getSeq[String](1))
  }

  test("native minhash null/empty semantics mirror the HOF form") {
    val empty = one[collection.Seq[Any]](
      Text.minhash(array().cast("array<string>"), 8))
    assert(empty.size === 8 && empty.forall(_ == null),
      "empty shingle set -> k nulls (array_min of empty is null)")
    val skipNull = one[collection.Seq[Any]](Text.minhash(
      array(lit("a b"), lit(null).cast("string"), lit("b c")), 8))
    val noNull = one[collection.Seq[Any]](
      Text.minhash(array(lit("a b"), lit("b c")), 8))
    assert(skipNull === noNull, "null shingles are skipped, not poisoning")
  }

  test("t14 bpe pairs equal a driver-side brute count; rank order is total") {
    val sf = "/root/testdata/sf0.001"
    val got = TextQueries.defs("t14_bpe_pairs").fn(spark, sf).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Int]("pair_rank")))
    // brute force: every adjacent char pair of every word OCCURRENCE
    // (the counting trick aggregates word shapes; the answer must be
    // the raw-token count regardless)
    val brute = collection.mutable.Map.empty[(String, String), Long]
    graft.sources.Tables.table(spark, sf, "documents")
      .select("text").collect().foreach { r =>
      val t = r.getString(0)
      if (t != null)
        "[a-z0-9]+".r.findAllIn(t.toLowerCase).foreach { w =>
          w.sliding(2).filter(_.length == 2).foreach { p =>
            val k = (p.substring(0, 1), p.substring(1, 2))
            brute(k) = brute.getOrElse(k, 0L) + 1L
          }
        }
    }
    val topBrute = brute.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(TextQueries.BpeTopPairs)
    assert(got.length === topBrute.length)
    got.sortBy(_._2._2).zip(topBrute).zipWithIndex.foreach {
      case (((gk, (gn, rank)), (bk, bn)), i) =>
        assert(gk === bk && gn === bn && rank === i + 1,
          s"rank ${i + 1}: got $gk=$gn, brute $bk=$bn")
    }
  }

  test("t16 oov rate: bounds, the vocab cut bites, and coverage is real") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextQueries.defs("t16_oov_rate").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("oov_micro") ===
        r.getAs[Long]("n_oov") * 1000000L / r.getAs[Long]("n_words"))
    }
    val (oov, words) = (rows.map(_.getAs[Long]("n_oov")).sum,
      rows.map(_.getAs[Long]("n_words")).sum)
    assert(oov > 0L, "vocab knob must leave a non-trivial OOV tail")
    assert(oov < words, "the top-V head must cover most tokens")
  }

  test("t15 context fit: conservation and monotonicity over seq lens") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextQueries.defs("t15_context_fit").fn(spark, sf).collect()
    assert(rows.length === TextQueries.ContextFitLens.length)
    val totalDocs = graft.sources.Tables.table(spark, sf, "documents").count()
    val totals = rows.map(r =>
      r.getAs[Long]("tokens_kept") + r.getAs[Long]("tokens_truncated"))
    assert(totals.distinct.length === 1,
      "kept + truncated must equal the corpus token count at every len")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs_fit") +
        r.getAs[Long]("n_docs_truncated") === totalDocs)
    }
    val byLen = rows.sortBy(_.getAs[Long]("seq_len"))
    assert(byLen.map(_.getAs[Long]("n_docs_fit")).toSeq ==
      byLen.map(_.getAs[Long]("n_docs_fit")).sortBy(identity).toSeq,
      "docs that fit must be non-decreasing in seq_len")
    assert(byLen.map(_.getAs[Long]("tokens_truncated")).toSeq ==
      byLen.map(_.getAs[Long]("tokens_truncated"))
        .sortBy(identity).reverse.toSeq,
      "truncation loss must be non-increasing in seq_len")
  }
}
