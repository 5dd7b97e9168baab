package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Caches.PipelineCacheOps
import graft.sources.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. All are row-wise expression pipelines + one grouped
  * aggregate — embarrassingly parallel, no driver state, and each has a
  * DuckDB oracle twin. */
object TextQueries {

  /** Small built-in stopword marker lists for the language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "de", "y", "es", "en", "se", "por", "con"))

  val enStopwords: Seq[String] = langMarkers.head._2

  /** t3/t19 shared language-ID kernel: marker-word scores per language
    * plus the argmax with fixed precedence en > de > fr > es (ties go
    * to the earlier language) as `pred_lang`. ONE Spark rendering and
    * ONE SQL rendering ([[langPredSqlCtes]]) so a marker-list tweak
    * cannot drift the confusion matrix (t3) and the label-noise audit
    * (t19) apart. */
  private def withPredLang(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("w", Text.words(col("text")))
    val scored = langMarkers.foldLeft(d) { case (df, (l, ws)) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      df.withColumn(s"score_$l",
        expr(s"size(filter(w, x -> x IN ($list)))").cast("long"))
    }
    val (en, de, fr, es) =
      (col("score_en"), col("score_de"), col("score_fr"), col("score_es"))
    val pred =
      when(en > 0 && en >= de && en >= fr && en >= es, "en")
        .when(de > 0 && de > en && de >= fr && de >= es, "de")
        .when(fr > 0 && fr > en && fr > de && fr >= es, "fr")
        .when(es > 0 && es > en && es > de && es > fr, "es")
        .otherwise("und")
    scored.withColumn("pred_lang", pred)
  }

  /** DuckDB twin of [[withPredLang]]: CTE chain `d / scored / p`
    * ending with (lang{extra}, pred_lang) rows; `extra` names
    * additional documents columns to carry through (e.g. ", source"). */
  private def langPredSqlCtes(extra: String): String = {
    def list(l: String) =
      langMarkers.find(_._1 == l).get._2.map(w => s"'$w'").mkString(", ")
    def sc(l: String) =
      s"CAST(len(list_filter(w, x -> x IN (${list(l)}))) AS BIGINT)"
    s"""d AS (
          SELECT doc_id, lang$extra, $wordsSqlDuck AS w FROM documents
        ), scored AS (
          SELECT lang$extra, ${sc("en")} AS score_en, ${sc("de")} AS score_de,
                 ${sc("fr")} AS score_fr, ${sc("es")} AS score_es
          FROM d
        ), p AS (
          SELECT lang$extra,
            CASE
              WHEN score_en > 0 AND score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
              WHEN score_de > 0 AND score_de > score_en AND score_de >= score_fr AND score_de >= score_es THEN 'de'
              WHEN score_fr > 0 AND score_fr > score_en AND score_fr > score_de AND score_fr >= score_es THEN 'fr'
              WHEN score_es > 0 AND score_es > score_en AND score_es > score_de AND score_es > score_fr THEN 'es'
              ELSE 'und' END AS pred_lang
          FROM scored
        )"""
  }

  /** t7 target sampling rates per language (English-heavy mixture);
    * languages not listed fall back to [[MixtureDefaultRate]]. Declared
    * before `defs` — the map (and its oracle SQL) is built eagerly. */
  val MixtureRates: Seq[(String, Double)] = Seq(
    "en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.25, "zh" -> 0.25)
  val MixtureDefaultRate = 0.1

  /** t8 context-window size in (coarse BPE) tokens. */
  val PackContextTokens = 512

  /** t8 packing-shard size: the prefix-sum window partitions by
    * (source, doc_id div PackShardDocs), so one window partition never
    * exceeds this many slim (doc_id, n_tokens) rows — a 50-TB
    * single-source corpus shards into parallel 1M-doc packing units
    * instead of one task sorting the whole source. A pack never spans
    * a shard boundary (bounded padding waste: <= 1 partial context
    * window per shard). */
  val PackShardDocs = 1000000L

  /** t8's packing rule over any `(doc_id, source, shard, n_tokens)`
    * frame: within (source, shard) ordered by doc_id, each doc starts
    * at cumulative offset `prefix_before`, landing in context window
    * `prefix_before div context` at offset `prefix_before mod context`.
    * A NULL n_tokens doc contributes nothing to the prefix and packs
    * as NULL (both engines' window-sum null semantics). Extracted so
    * SequencePackPropSpec can drive it with random corpora against a
    * driver-side fold; t8 applies it to the documents table. */
  private[graft] def sequencePack(tok: DataFrame,
      context: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
    tok
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("shard"),
        col("n_tokens"),
        ((col("cum") - col("n_tokens")) / context)
          .cast("long").as("pack_id"),
        (col("cum") - col("n_tokens") -
          ((col("cum") - col("n_tokens")) / context)
            .cast("long") * context).as("pack_offset"))
  }

  private val wordsSqlDuck = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** t11 hashed-feature space size. 512 buckets keeps the bucket model
    * broadcast-trivial while leaving hash collisions rare enough to
    * separate the language distributions at every test sf (DSIR itself
    * uses 10k buckets at web scale — a config knob, not a shape change:
    * the model frame stays O(buckets) regardless of corpus size). */
  val DsirBuckets = 512
  /** t11 target distribution: the corpus's English subset. */
  val DsirTargetLang = "en"

  /** Gopher word-count lower bound (the paper uses 50). NOTE: must be
    * declared before `defs` — the oracle SQL interpolates it eagerly. */
  val GopherMinWords = 50L

  /** t12 bigram-LM training subset: the corpus's English docs (the
    * CCNet recipe trains its filtering LM on a clean target corpus and
    * scores everything). */
  val LmTrainLang = "en"

  /** t14: merge candidates reported (BPE vocab builders take the top
    * pair per iteration; the top-K table is the inspectable artifact). */
  val BpeTopPairs = 200

  /** t20: BPE induction knobs. The merge loop runs over the word-SHAPE
    * dictionary, frequency-capped at [[BpeShapeWords]] (freq DESC, word
    * ASC — deterministic): the corpus-sized work is the one distributed
    * word count; the capped dict is the bounded-collect class the
    * centroid loop (s4) established, and the cap is what production
    * trainers do (HF tokenizers trains from a pruned word-count dict).
    * [[BpeMinPairFreq]] stops induction before it memorizes singleton
    * tails. */
  val BpeShapeWords = 50000
  val BpeMerges = 50
  val BpeMinPairFreq = 2L

  /** t15: candidate context lengths a training run would choose
    * between (the max_seq_len sweep). */
  val ContextFitLens: Seq[Long] = Seq(128L, 512L, 2048L, 8192L)

  /** t16 vocabulary head size. 16 of this corpus's 31-word synthetic
    * vocabulary so the OOV tail is non-trivial at every test sf;
    * production sets the tokenizer's real vocab budget (32k-256k) —
    * a knob, not a shape change: the vocab frame stays O(V) and
    * broadcast regardless of corpus size. */
  val OovVocabSize = 16

  /** Per-(source, word) occurrence counts over the corpus —
    * materialized (r16, guide §6/§2.4): FIVE consumers each re-ran the
    * SAME tokenize + explode + word-count pass over the whole corpus
    * per JVM — t14's pair seed, t16's OOV rollup, t20/t21's BPE
    * induction scan and tokenizer apply, and [[oovVocab]] — exactly
    * the re-derivation the d2-shingles / decontam-shingles checkpoints
    * already remove for the dedup family. This is the corpus-sized
    * pass; every consumer's own grouping is a LONG-exact rollup of it
    * (count(*) grouped coarser == sum of per-(source, word) counts;
    * ties and total orders are therefore identical), computed on a
    * vocabulary-sized frame (sub-linear in corpus size, Heaps' law).
    *
    * `source` rides RAW (null preserved): t16 applies its own
    * coalesce-and-regroup downstream, t21 groups the raw column —
    * each consumer's null posture is untouched. Rebalanced scan so the
    * interpreted regex tokenize never runs on one small-file task (the
    * shingled() lesson). */
  def wordCounts(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"word-counts|$dir") {
      Tables.rebalance(Tables.table(s, dir, "documents"))
        .select(col("source"), explode(Text.words(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    }

  /** t16's vocabulary head as a shared persisted artifact: the SAME
    * top-[[OovVocabSize]] cut t16 reports on (global word counts are
    * the sum of t16's per-source counts, so the two derivations pick
    * identical sets under the identical (count desc, word) total
    * order), materialized once per corpus so the streaming OOV
    * monitor (st12) probes the tokenizer vocabulary as a fixed
    * artifact — the production posture: a tokenizer is FIT once, the
    * crawl drifts against it. Derived from [[wordCounts]] (one corpus
    * pass shared with t14/t16/t20/t21): sum-of-longs rollup, identical
    * counts, identical (gn desc, w) cut. */
  def oovVocab(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"oov-vocab|$dir") {
      wordCounts(s, dir)
        .groupBy(col("w")).agg(sum(col("n")).as("gn"))
        .orderBy(col("gn").desc, col("w"))
        .limit(OovVocabSize)
        .select(col("w"))
    }

  /** st13: a delta doc is flagged when its quality micro sits this far
    * below its source's batch baseline mean (0.15 in score units — the
    * same tail-not-noise-floor calibration as st9's DriftTol). */
  val QualityDriftMicro = 150000L

  /** Per-source mean quality (integer micro) over the batch corpus —
    * the FIXED baseline st13's streaming monitor scores arrivals
    * against (fit once per corpus vintage, the production posture; a
    * refresh is a new Materialize key). Catalog-sized frame: one
    * row-local scoring pass + one source-keyed agg, broadcast to the
    * stream side. Integer mean (sum div count over round(score*1e6))
    * so the baseline is order- and engine-exact; sources whose every
    * doc scores NULL (no text) get a NULL baseline, never a zero. */
  def qualityBaseline(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"quality-baseline|$dir") {
      qualityOf(Tables.table(s, dir, "documents"))
        .select(coalesce(col("source"), lit("")).as("source"),
          round(col("quality_score") * 1e6).cast("long").as("qm"))
        .groupBy(col("source"))
        .agg(expr("sum(qm) div nullif(count(qm), 0)")
          .as("baseline_micro"))
    }

  /** t13 boilerplate word-shingle width and the distinct-doc threshold
    * above which a shingle counts as boilerplate within its source. */
  val BoilerN = 5
  val BoilerMinDocs = 3L
  /** t13 flag threshold: docs whose boilerplate occurrence fraction
    * reaches this are marked template-heavy. */
  val BoilerFracFlag = 0.30

  /** Per-document quality frame `(doc_id, n_words, punct_ratio,
    * stop_ratio, mean_word_len, quality_score)` — t2's contract, shared
    * with dedup's quality-aware cluster canonicalization (d13) so both
    * rank documents by the identical score. Row-wise codegen'd
    * expressions, no shuffle.
    *
    * quality: long enough, low punctuation noise, some stopwords.
    * floor(x*1e6+0.5)/1e6 instead of round(): pure IEEE double ops,
    * bit-identical across engines (round() implementations differ at
    * exact .5e-6 boundaries, which these weighted sums hit). */
  def qualityFrame(s: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.table(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("punct_ratio"),
        col("stop_ratio"), col("mean_word_len"), col("quality_score"))

  /** The same scorer over ANY documents frame (batch or streaming —
    * st10's admission front reuses it row for row), with the input
    * columns kept so downstream stages can keep reading `text`/`w`. */
  def qualityOf(docs: DataFrame): DataFrame = {
    val stop = enStopwords.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("w", Text.words(col("text")))
      .withColumn("n_words", size(col("w")).cast("long"))
      // nullif mirrors DuckDB: length 0 divides to NULL there, where
      // ANSI Spark would throw — an EMPTY doc gets a null punct_ratio
      // in both engines (and least() skips the null identically in the
      // score, so quality_score stays defined)
      .withColumn("punct_ratio", round(
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
          .cast("double") / nullif(length(col("text")), lit(0)), 6))
      .withColumn("stop_ratio", round(
        expr(s"size(filter(w, x -> x IN ($stop)))").cast("double") /
          greatest(size(col("w")), lit(1)), 6))
      // nullif, not greatest: DuckDB's list_sum([]) is NULL, so a
      // zero-word doc's mean_word_len is NULL there — the fold here is
      // 0, and NULL-dividing it matches (0/NULL = NULL = NULL/1)
      .withColumn("mean_word_len", round(
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double") /
          nullif(size(col("w")), lit(0)), 6))
      .withColumn("quality_score",
        floor((least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.3 +
          least(col("stop_ratio") * 5.0, lit(1.0)) * 0.3) * 1e6 + 0.5) / 1e6)
  }

  /** DuckDB CTE chain producing `q(doc_id, n_words, punct_ratio,
    * stop_ratio, mean_word_len, quality_score)` — [[qualityFrame]]'s
    * oracle twin, shared by t2 and d13. */
  val qualitySqlCte: String = {
    val stop = enStopwords.map(w => s"'$w'").mkString(", ")
    s"""qd AS (
          SELECT doc_id, text, $wordsSqlDuck AS w FROM documents
        ), qf AS (
          SELECT doc_id,
            CAST(len(w) AS BIGINT) AS n_words,
            round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
            round(CAST(len(list_filter(w, x -> x IN ($stop))) AS DOUBLE) / greatest(len(w), 1), 6) AS stop_ratio,
            round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1), 6) AS mean_word_len
          FROM qd
        ), q AS (
          SELECT doc_id, n_words, punct_ratio, stop_ratio, mean_word_len,
            floor((least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
                  (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3 +
                  least(stop_ratio * 5.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6 AS quality_score
          FROM qf
        )"""
  }

  val defs: Map[String, QueryDef] = Map(

    // ---- t1: token statistics per (lang, source)
    "t1_token_stats" -> QueryDef(
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .withColumn("w", Text.words(col("text")))
          .withColumn("n_words", size(col("w")).cast("long"))
          .withColumn("n_bpe", Text.bpeTokenCount(col("text")).cast("long"))
        d.groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("sum_words"),
            sum(col("n_bpe")).as("sum_bpe_tokens"),
            round(sum(col("n_words")).cast("double") / count(lit(1)), 6)
              .as("avg_words_per_doc"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""SELECT lang, source, count(*) AS n_docs,
        CAST(sum(len($wordsSqlDuck)) AS BIGINT) AS sum_words,
        CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens,
        round(CAST(sum(len($wordsSqlDuck)) AS DOUBLE) / count(*), 6) AS avg_words_per_doc
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // ---- t2: per-document quality scoring (length/punct/stopword ratios)
    //      — the scoring itself lives in [[qualityFrame]] so dedup's
    //      cluster canonicalization (d13) ranks by the SAME score.
    "t2_quality_scores" -> QueryDef(
      (s, dir) => qualityFrame(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH $qualitySqlCte
        SELECT doc_id, n_words, punct_ratio, stop_ratio, mean_word_len,
          quality_score
        FROM q ORDER BY doc_id""")),

    // ---- t3: language-ID heuristic vs the labelled lang column
    "t3_lang_id" -> QueryDef(
      (s, dir) => {
        withPredLang(Tables.table(s, dir, "documents"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some {
        s"""WITH ${langPredSqlCtes("")}
        SELECT lang, pred_lang, count(*) AS n_docs FROM p
        GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""
      }),

    // ---- t4: document fingerprints (normalized-text hash + min-shingle hash)
    "t4_fingerprints" -> QueryDef(
      (s, dir) => {
        Tables.table(s, dir, "documents")
          .withColumn("fp_exact", md5(Text.normText(col("text"))))
          .withColumn("w", Text.words(col("text")))
          .withColumn("sh", Text.wordShingles(col("w"), 4))
          .withColumn("fp_min_shingle",
            coalesce(array_min(transform(col("sh"), x => md5(x))), lit("")))
          .select(col("doc_id"), col("fp_exact"), col("fp_min_shingle"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_exact,
          CASE WHEN len($wordsSqlDuck) >= 4 THEN
            list_distinct(list_transform(range(0, len($wordsSqlDuck) - 3),
              j -> array_to_string(list_slice($wordsSqlDuck, j+1, j+4), ' ')))
          ELSE [] END AS sh
        FROM documents
      )
      SELECT doc_id, fp_exact,
        coalesce(list_min(list_transform(sh, x -> md5(x))), '') AS fp_min_shingle
      FROM d ORDER BY doc_id""")),

    // ---- t5: PII scrub — count + redact emails/phones/IPv4s. The test
    //      corpus carries no real PII, so the contact block is
    //      synthesized deterministically from customer keys; the
    //      operator under test is the scrubber itself (Text.piiScrub),
    //      the standard pre-training redaction pass.
    "t5_pii_scrub" -> QueryDef(
      (s, dir) => {
        val k = col("c_custkey")
        val email = concat(lit("user"), k.cast("string"), lit("@example.com"))
        val phone = concat(lit("555-"),
          lpad((k % 900 + 100).cast("string"), 3, "0"), lit("-"),
          lpad((k * 7 % 10000).cast("string"), 4, "0"))
        val ip = concat(lit("10."), (k % 256).cast("string"), lit("."),
          (k * 3 % 256).cast("string"), lit("."), (k * 7 % 256).cast("string"))
        Tables.table(s, dir, "customer")
          .withColumn("contact", concat_ws(" ", col("c_name"),
            when(k % 2 === 0, email).otherwise(lit("(none)")),
            when(k % 3 === 0, phone).otherwise(lit("-")),
            when(k % 5 === 0, ip).otherwise(lit("-")),
            col("c_mktsegment")))
          .select(
            k.as("c_custkey"),
            regexp_count(col("contact"), lit(Text.EmailRe)).cast("long")
              .as("n_emails"),
            regexp_count(col("contact"), lit(Text.PhoneRe)).cast("long")
              .as("n_phones"),
            regexp_count(col("contact"), lit(Text.Ipv4Re)).cast("long")
              .as("n_ips"),
            Text.piiScrub(col("contact")).as("scrubbed"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH c AS (
        SELECT c_custkey,
          concat_ws(' ', c_name,
            CASE WHEN c_custkey % 2 = 0
              THEN 'user' || c_custkey || '@example.com' ELSE '(none)' END,
            CASE WHEN c_custkey % 3 = 0
              THEN '555-' || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')
                || '-' || lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0')
              ELSE '-' END,
            CASE WHEN c_custkey % 5 = 0
              THEN '10.' || (c_custkey % 256) || '.' || (c_custkey * 3 % 256)
                || '.' || (c_custkey * 7 % 256)
              ELSE '-' END,
            c_mktsegment) AS contact
        FROM customer
      )
      SELECT c_custkey,
        CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(contact, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        CAST(len(regexp_extract_all(contact, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        regexp_replace(regexp_replace(regexp_replace(contact,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
          '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS scrubbed
      FROM c ORDER BY c_custkey"""),
    ),

    // ---- t6: repetition-quality metrics (Gopher-style repetition
    //      rules): distinct-word ratio, most-frequent-word share, and
    //      most-frequent-bigram share per document. Two-level explode +
    //      groupBy aggregation — no per-doc state exceeds one (doc_id,
    //      term) count row, so the pass is skew-robust at any corpus
    //      size (a pathological single doc costs one group, not one
    //      task's memory).
    "t6_repetition" -> QueryDef(
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), Text.words(col("text")).as("w"))
          .filter(size(col("w")) > 0)
        val wc = d.select(col("doc_id"), explode(col("w")).as("word"))
          .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("k"))
        val ws = wc.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_distinct"),
          max(col("k")).as("top_word_k"),
          sum(col("k")).as("n_words"))
        val bg = d.filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(
            transform(sequence(lit(0), size(col("w")) - 2), j =>
              concat(element_at(col("w"), j + 1), lit(" "),
                element_at(col("w"), j + 2)))).as("b"))
        val bc = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("k"))
        val bs = bc.groupBy(col("doc_id")).agg(
          max(col("k")).as("top_bigram_k"),
          sum(col("k")).as("n_bigrams"))
        val r6 = (c: org.apache.spark.sql.Column) =>
          floor(c * 1e6 + 0.5) / 1e6
        ws.join(bs, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_words").cast("long").as("n_words"),
            col("n_distinct").cast("long").as("n_distinct"),
            r6(col("n_distinct").cast("double") / col("n_words"))
              .as("distinct_ratio"),
            r6(col("top_word_k").cast("double") / col("n_words"))
              .as("top_word_frac"),
            coalesce(r6(col("top_bigram_k").cast("double") / col("n_bigrams")),
              lit(0.0)).as("top_bigram_frac"))
          .withColumn("is_repetitive",
            when(col("top_bigram_frac") > 0.08 || col("distinct_ratio") < 0.3,
              1L).otherwise(0L))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
        SELECT doc_id, $wordsSqlDuck AS w FROM documents
        WHERE len($wordsSqlDuck) > 0
      ), wc AS (
        SELECT doc_id, unnest(w) AS word FROM d
      ), c AS (
        SELECT doc_id, word, count(*) AS k FROM wc GROUP BY 1, 2
      ), ws AS (
        SELECT doc_id, count(*) AS n_distinct, max(k) AS top_word_k,
          sum(k) AS n_words
        FROM c GROUP BY 1
      ), bg AS (
        SELECT doc_id, unnest(list_transform(range(0, len(w) - 1),
          j -> w[j+1] || ' ' || w[j+2])) AS b
        FROM d WHERE len(w) >= 2
      ), bc AS (
        SELECT doc_id, b, count(*) AS k FROM bg GROUP BY 1, 2
      ), bs AS (
        SELECT doc_id, max(k) AS top_bigram_k, sum(k) AS n_bigrams
        FROM bc GROUP BY 1
      ), f AS (
        SELECT ws.doc_id,
          CAST(ws.n_words AS BIGINT) AS n_words,
          CAST(n_distinct AS BIGINT) AS n_distinct,
          floor(CAST(n_distinct AS DOUBLE) / ws.n_words * 1e6 + 0.5) / 1e6 AS distinct_ratio,
          floor(CAST(top_word_k AS DOUBLE) / ws.n_words * 1e6 + 0.5) / 1e6 AS top_word_frac,
          coalesce(floor(CAST(top_bigram_k AS DOUBLE) / n_bigrams * 1e6 + 0.5) / 1e6, 0.0) AS top_bigram_frac
        FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
      )
      SELECT doc_id, n_words, n_distinct, distinct_ratio, top_word_frac,
        top_bigram_frac,
        CAST(CASE WHEN top_bigram_frac > 0.08 OR distinct_ratio < 0.3
          THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
      FROM f ORDER BY doc_id""")),

    // ---- t7: deterministic mixture sampling — downsample each language
    //      to a target rate with a content-independent md5(doc_id) coin,
    //      the data-mixing primitive of a pre-training pipeline. Pure
    //      row-wise codegen'd decision (no shuffle for the keep/drop;
    //      one tiny groupBy for the report), deterministic under any
    //      partitioning, and the same doc keeps/drops at every scale
    //      factor that contains it.
    "t7_mixture_sample" -> QueryDef(
      (s, dir) => {
        val rate = MixtureRates.foldLeft(lit(MixtureDefaultRate)) {
          case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
        }
        val u = (conv(substring(md5(col("doc_id").cast("string")
          .cast("binary")), 1, 15), 16, 10).cast("long") % 1000000L)
          .cast("double") / 1e6
        Tables.table(s, dir, "documents")
          .withColumn("kept", (u < rate).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
          .withColumn("kept_frac",
            floor(col("n_kept").cast("double") / col("n_total") * 1e6 + 0.5)
              / 1e6)
          .orderBy(col("lang"))
      },
      Some {
        val rateSql = MixtureRates
          .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
          .mkString(" ")
        s"""WITH k AS (
          SELECT lang,
            CASE WHEN (CAST(('0x' ||
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000) / 1e6
              < (CASE $rateSql ELSE $MixtureDefaultRate END)
            THEN 1 ELSE 0 END AS kept
          FROM documents
        )
        SELECT lang, count(*) AS n_total,
          CAST(sum(kept) AS BIGINT) AS n_kept,
          floor(CAST(sum(kept) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
            AS kept_frac
        FROM k GROUP BY lang ORDER BY lang"""
      }),

    // ---- t8: sequence packing — concat-then-chop documents into
    //      fixed-token context windows, the batching primitive of a
    //      pre-training pipeline. Packing is a running token prefix-sum
    //      partitioned by (source, shard) where
    //      shard = doc_id div [[PackShardDocs]]: domains pack together,
    //      a pack never spans a shard boundary (the documented packing
    //      scope), and — unlike a per-source-only window — no single
    //      giant source can collapse the prefix sum into one task: the
    //      window partition is hard-bounded at PackShardDocs slim rows
    //      regardless of corpus shape. At test scale every source fits
    //      one shard, so shard = 0 throughout and pack ids match the
    //      unsharded semantics.
    "t8_sequence_pack" -> QueryDef(
      (s, dir) => {
        sequencePack(
          Tables.table(s, dir, "documents")
            .withColumn("shard", expr(s"doc_id div $PackShardDocs"))
            .withColumn("n_tokens",
              Text.bpeTokenCount(col("text")).cast("long")),
          PackContextTokens)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
        SELECT doc_id, source,
          doc_id // $PackShardDocs AS shard,
          len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens
        FROM documents
      ), c AS (
        SELECT doc_id, source, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
          sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
      )
      SELECT doc_id, source, CAST(shard AS BIGINT) AS shard, n_tokens,
        CAST((cum - n_tokens) // $PackContextTokens AS BIGINT) AS pack_id,
        CAST(cum - n_tokens
          - ((cum - n_tokens) // $PackContextTokens) * $PackContextTokens
          AS BIGINT) AS pack_offset
      FROM c ORDER BY doc_id""")),

    // ---- t9: Gopher-style quality-rule battery (Rae et al. 2021,
    //      "Scaling Language Models" §A1.1) — the standard rule set a
    //      pretraining pipeline applies before model-based filters:
    //      word-count bounds, mean-word-length band, symbol-to-word
    //      ratio, alphabetic-word fraction, stopword evidence, and
    //      line-shape rules (bullet/ellipsis fractions; exact zeros on
    //      this single-line corpus, verified as such by the oracle).
    //      Pure per-row codegen expressions — no joins, no state.
    "t9_gopher_rules" -> QueryDef(
      (s, dir) => {
        val r6 = (c: org.apache.spark.sql.Column) =>
          floor(c * 1e6 + 0.5) / 1e6
        val stop = enStopwords.map(w => s"'$w'").mkString(", ")
        Tables.table(s, dir, "documents")
          .withColumn("w", Text.words(col("text")))
          .withColumn("n_words", size(col("w")).cast("long"))
          .filter(col("n_words") > 0)
          .withColumn("mean_word_len", r6(
            expr("aggregate(w, 0L, (a, x) -> a + length(x))").cast("double")
              / col("n_words")))
          .withColumn("symbol_ratio", r6((
            (length(col("text"))
              - length(regexp_replace(col("text"), lit("#"), lit("")))) +
            (length(col("text"))
              - length(regexp_replace(col("text"), lit("\\.\\.\\."), lit("")))) / 3)
            .cast("double") / col("n_words")))
          .withColumn("alpha_word_frac", r6(
            expr("size(filter(w, x -> x rlike '[a-z]'))").cast("double")
              / col("n_words")))
          .withColumn("n_stop_hits",
            expr(s"size(filter(array($stop), s -> array_contains(w, s)))")
              .cast("long"))
          .withColumn("lines", split(col("text"), "\n"))
          .withColumn("bullet_line_frac", r6(
            expr("size(filter(lines, x -> ltrim(x) rlike '^[-*•]'))")
              .cast("double") / size(col("lines"))))
          .withColumn("ellipsis_line_frac", r6(
            expr("size(filter(lines, x -> rtrim(x) rlike '\\\\.\\\\.\\\\.$'))")
              .cast("double") / size(col("lines"))))
          .withColumn("gopher_keep", (
            col("n_words").between(GopherMinWords, 100000L) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("alpha_word_frac") >= 0.8 &&
            col("n_stop_hits") >= 2 &&
            col("bullet_line_frac") <= 0.9 &&
            col("ellipsis_line_frac") <= 0.3).cast("long"))
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("symbol_ratio"), col("alpha_word_frac"), col("n_stop_hits"),
            col("bullet_line_frac"), col("ellipsis_line_frac"),
            col("gopher_keep"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stop = enStopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH d AS (
        SELECT doc_id, text, $wordsSqlDuck AS w,
          string_split(text, chr(10)) AS lines
        FROM documents WHERE len($wordsSqlDuck) > 0
      ), f AS (
        SELECT doc_id,
          CAST(len(w) AS BIGINT) AS n_words,
          floor(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
            / len(w) * 1e6 + 0.5) / 1e6 AS mean_word_len,
          floor(CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
            AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 AS symbol_ratio,
          floor(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
            AS DOUBLE) / len(w) * 1e6 + 0.5) / 1e6 AS alpha_word_frac,
          CAST(len(list_filter([$stop], s -> list_contains(w, s)))
            AS BIGINT) AS n_stop_hits,
          floor(CAST(len(list_filter(lines,
              x -> regexp_matches(ltrim(x), '^[-*•]')))
            AS DOUBLE) / len(lines) * 1e6 + 0.5) / 1e6 AS bullet_line_frac,
          floor(CAST(len(list_filter(lines,
              x -> regexp_matches(rtrim(x), '\\.\\.\\.$$')))
            AS DOUBLE) / len(lines) * 1e6 + 0.5) / 1e6 AS ellipsis_line_frac
        FROM d
      )
      SELECT *, CAST(CASE WHEN
          n_words BETWEEN $GopherMinWords AND 100000
          AND mean_word_len BETWEEN 3.0 AND 10.0
          AND symbol_ratio <= 0.1
          AND alpha_word_frac >= 0.8
          AND n_stop_hits >= 2
          AND bullet_line_frac <= 0.9
          AND ellipsis_line_frac <= 0.3
        THEN 1 ELSE 0 END AS BIGINT) AS gopher_keep
      FROM f ORDER BY doc_id"""
      }),

    // ---- t10: corpus-statistics rarity score (CCNet-style LM
    //      filtering, engine-exact variant): score each document by the
    //      arithmetic mean of inverse unigram probability of its words
    //      under the corpus's own unigram distribution. High scores =
    //      rare vocabulary (noise, other-language, gibberish); low =
    //      boilerplate. Two corpus passes (count words, score docs),
    //      both map-side-combined; the per-word inverse probability is
    //      integer-floored at micro resolution so sums are
    //      order-independent BIGINTs and the DuckDB twin is exact —
    //      the reason this is mean 1/p rather than log-perplexity
    //      (ln() is libm-dependent across engines).
    //      OVERFLOW BOUNDS (100-TB regime): the per-word score is the
    //      exact-rational split (t div c)*1e6 + ((t mod c)*1e6) div c —
    //      never forming t*1e6, which overflows Long at t > 9.2e12 corpus
    //      words (a 100-TB corpus is ~1.5e13) — and saturates at
    //      [[Text.RarityCapMicro]] (inverse probability 1e6, i.e. words
    //      rarer than one-in-a-million saturate; mirrored in the twin, so
    //      hash-identity holds even when it binds — it does not at any
    //      test sf, r_max ≈ 2.8e11 at sf0.1). Residual exact-arithmetic
    //      ceiling: (t mod c)*1e6 needs the most common word's count
    //      ≤ 9.2e12 occurrences (~1.8e14-word ≈ 1 PB corpus at 5% "the");
    //      the cap bounds per-doc sums to n_words*1e12 (safe to ~9e6
    //      words per document).
    "t10_word_rarity" -> QueryDef(
      (s, dir) => {
        val words = Tables.table(s, dir, "documents")
          .select(col("doc_id"), explode(Text.words(col("text"))).as("word"))
        // vocab-sized count table persists; the corpus-total scalar
        // comes from it (one corpus pass, not two), O(1) driver state
        val wc = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
          .pipelineCache()
        val total = Option(wc.agg(sum(col("c"))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L) // null on empty corpus
        words.join(wc, "word")
          .withColumn("r", Text.rarityMicro(total))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("r")).as("sr"))
          .withColumn("mean_inv_p",
            expr("sr div n_words").cast("double") / 1e6)
          .select(col("doc_id"), col("n_words"), col("mean_inv_p"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
        SELECT doc_id, unnest($wordsSqlDuck) AS word FROM documents
      ), wc AS (
        SELECT word, count(*) AS c FROM w GROUP BY 1
      ), tot AS (SELECT count(*) AS t FROM w
      ), scored AS (
        -- exact-rational split of (t*1e6)//c (avoids the t*1e6 overflow)
        -- + the RarityCapMicro saturation, both mirroring the engine
        SELECT w.doc_id,
          CASE WHEN tot.t // wc.c >= 1000000 THEN ${Text.RarityCapMicro}
          ELSE (tot.t // wc.c) * 1000000 +
               ((tot.t % wc.c) * 1000000) // wc.c
          END AS r
        FROM w JOIN wc USING (word) CROSS JOIN tot
      )
      SELECT doc_id, count(*) AS n_words,
        CAST((sum(r) // count(*)) AS DOUBLE) / 1e6 AS mean_inv_p
      FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- t11: DSIR-style data-selection importance weights (Xie et
    //      al. 2023, "Data Selection for Language Models via Importance
    //      Resampling", arXiv:2302.03169): per-document log importance
    //      weight log p_target(doc)/p_raw(doc) under hashed-n-gram
    //      bag-of-words models. Features are word unigrams + bigrams
    //      (with occurrences) hashed into [[DsirBuckets]] buckets; the
    //      target distribution is the corpus's own English subset (the
    //      standard "select raw data that looks like the target" setup —
    //      any target corpus slots in the same chain). Scale shape: ONE
    //      explode pass -> map-side-combined groupBy (doc_id, bucket)
    //      whose size is <= docs x DsirBuckets rows; the bucket model
    //      (DsirBuckets rows) reduces from it, rides back as a BROADCAST
    //      join, and the per-doc weight is a second map-side-combined
    //      groupBy. No all-pairs step, no driver loop; the only collect
    //      is the 2-long totals row. Per-bucket log-ratios are doubles
    //      (same ln on the same IEEE division in both engines, the A15
    //      entropy precedent) but the per-doc SUM accumulates in exact
    //      decimals, so the answer is partition-order-independent.
    "t11_importance_weights" -> QueryDef(
      (s, dir) => {
        val b = DsirBuckets
        val docs = Tables.table(s, dir, "documents")
        val grams = Tables.rebalance(docs)
          .select(col("doc_id"), col("lang"), Text.words(col("text")).as("w"))
          .select(col("doc_id"), col("lang"),
            explode(concat(col("w"), Text.wordShinglesAll(col("w"), 2))).as("g"))
          .select(col("doc_id"), col("lang"),
            pmod(Text.hash32(col("g")), lit(b.toLong)).as("b"))
        // persisted WITHOUT a same-scope unpersist (t10's wc pattern):
        // the RETURNED frame is lazy and still consumes perDoc, so an
        // eager unpersist here would make every consumer re-derive the
        // whole explode chain; the bench releases caches at group
        // boundaries instead
        val perDoc = grams.groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("n")).pipelineCache()
        val bc = perDoc.groupBy(col("b"))
          .agg(sum(col("n")).as("raw_n"),
            sum(when(col("lang") === DsirTargetLang, col("n"))
              .otherwise(0L)).as("tgt_n"))
        val tots = bc.agg(
          coalesce(sum(col("raw_n")), lit(0L)),
          coalesce(sum(col("tgt_n")), lit(0L))).head()
        val (rTot, tTot) = (tots.getLong(0), tots.getLong(1))
        val lr = bc.select(col("b"),
          (log((col("tgt_n") + 1).cast("double") / lit((tTot + b).toDouble)) -
            log((col("raw_n") + 1).cast("double") / lit((rTot + b).toDouble)))
            .as("lr"))
        val w = perDoc.join(broadcast(lr), "b")
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_grams"),
            sum((col("n") * col("lr")).cast(DecimalType(30, 15)))
              .cast("double").as("wsum"))
        docs.select(col("doc_id"))
          .join(w, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            round(coalesce(col("wsum"), lit(0.0)), 6).as("log_weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH wd AS (
        SELECT doc_id, lang, $wordsSqlDuck AS w FROM documents
      ), g AS (
        SELECT doc_id, lang, unnest(w ||
          CASE WHEN len(w) >= 2 THEN
            list_transform(range(0, len(w) - 1),
              j -> array_to_string(list_slice(w, j+1, j+2), ' '))
          ELSE [] END) AS g
        FROM wd
      ), hb AS (
        SELECT doc_id, lang,
          CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $DsirBuckets AS b
        FROM g
      ), per_doc AS (
        SELECT doc_id, lang, b, count(*) AS n FROM hb GROUP BY 1, 2, 3
      ), bc AS (
        SELECT b, sum(n) AS raw_n,
          sum(CASE WHEN lang = '$DsirTargetLang' THEN n ELSE 0 END) AS tgt_n
        FROM per_doc GROUP BY 1
      ), tot AS (
        SELECT sum(raw_n) AS r, sum(tgt_n) AS t FROM bc
      ), lr AS (
        SELECT b,
          ln(CAST(tgt_n + 1 AS DOUBLE) / CAST(t + $DsirBuckets AS DOUBLE)) -
          ln(CAST(raw_n + 1 AS DOUBLE) / CAST(r + $DsirBuckets AS DOUBLE)) AS lr
        FROM bc CROSS JOIN tot
      ), ws AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
          CAST(sum(CAST(n * lr AS DECIMAL(30,15))) AS DOUBLE) AS wsum
        FROM per_doc JOIN lr USING (b) GROUP BY 1
      )
      SELECT d.doc_id, coalesce(ws.n_grams, 0) AS n_grams,
        round(coalesce(ws.wsum, 0.0), 6) AS log_weight
      FROM documents d LEFT JOIN ws USING (doc_id)
      ORDER BY doc_id""")),

    // ---- t12: bigram-LM perplexity scoring — the CCNet filtering
    //      recipe: train an n-gram LM on a clean target subset (here
    //      the corpus's [[LmTrainLang]] docs), score EVERY doc by its
    //      average per-bigram negative log-likelihood; high-NLL docs
    //      are out-of-domain / low-quality candidates. Add-one
    //      smoothing over the training vocabulary:
    //        P(w2|w1) = (cb(w1 w2) + 1) / (cu(w1) + V)
    //      with cb = train bigram count, cu = train left-context count
    //      (cb summed over w2 — so the distribution sums to 1 exactly),
    //      V = distinct train unigram vocabulary.
    //
    //      Scale shape: the model is corpus-derived and corpus-sized,
    //      so the score pass joins doc bigrams to the model with
    //      KEY-EQUALITY shuffle joins on the gram / left-word — no
    //      broadcast of an unbounded model, no all-pairs anything; all
    //      aggregations are map-side-combinable counts. (A production
    //      run scoring against a FIXED small LM would broadcast it —
    //      this query demonstrates the non-broadcast shape that holds
    //      when the model itself is big.) Numerics: ln on the same
    //      IEEE division in both engines (t11 precedent), per-doc sums
    //      accumulate n×logp in exact decimals, final avg rounded.
    "t12_lm_perplexity" -> QueryDef(
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val bi = Tables.rebalance(docs)
          .select(col("doc_id"), col("lang"), Text.words(col("text")).as("w"))
          .select(col("doc_id"), col("lang"),
            explode(Text.wordShinglesAll(col("w"), 2)).as("g"))
        // per-(doc, gram) occurrence counts: one map-side-combined agg
        // feeding both the model build (train rows) and the score pass
        val pg = bi.groupBy(col("doc_id"), col("lang"), col("g"))
          .agg(count(lit(1)).as("n")).pipelineCache()
        val cb = pg.filter(col("lang") === LmTrainLang)
          .groupBy(col("g")).agg(sum(col("n")).as("cb"))
        val cu = cb
          .groupBy(split(col("g"), " ").getItem(0).as("w1"))
          .agg(sum(col("cb")).as("cu"))
        val vocab = Tables.rebalance(docs)
          .filter(col("lang") === LmTrainLang)
          .select(explode(Text.words(col("text"))).as("t"))
          .agg(countDistinct(col("t"))).head().getLong(0)
        // empty training subset: no model, no signal — every doc scores
        // 0.0 rather than ln(1/0)=Inf (which ANSI mode would refuse to
        // cast to the decimal accumulator). ORACLE BOUND: the DuckDB
        // twin assumes a non-empty train subset (true at every test sf,
        // where lang='en' docs always exist). No `return` in this
        // lambda — a non-local return from a Function2 throws at
        // runtime, so both arms are one expression.
        val perDoc = if (vocab == 0L) {
          pg.groupBy(col("doc_id"))
            .agg(sum(col("n")).as("n_bigrams"))
            .select(col("doc_id"), col("n_bigrams"),
              lit(0.0).as("avg_nll"))
        } else {
          val scored = pg
            .join(cb, Seq("g"), "left")
            .withColumn("w1", split(col("g"), " ").getItem(0))
            .join(cu, Seq("w1"), "left")
            .withColumn("logp",
              log((coalesce(col("cb"), lit(0L)) + 1L).cast("double") /
                (coalesce(col("cu"), lit(0L)) + vocab).cast("double")))
          scored.groupBy(col("doc_id"))
            .agg(sum(col("n")).as("n_bigrams"),
              sum((-col("n") * col("logp")).cast(DecimalType(30, 15)))
                .as("nll"))
            .select(col("doc_id"), col("n_bigrams"),
              round(col("nll").cast("double") /
                col("n_bigrams").cast("double"), 6).as("avg_nll"))
        }
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("avg_nll"), lit(0.0)).as("avg_nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH wd AS (
        SELECT doc_id, lang, $wordsSqlDuck AS w FROM documents
      ), g AS (
        SELECT doc_id, lang, unnest(
          CASE WHEN len(w) >= 2 THEN
            list_transform(range(0, len(w) - 1),
              j -> array_to_string(list_slice(w, j+1, j+2), ' '))
          ELSE [] END) AS g
        FROM wd
      ), pg AS (
        SELECT doc_id, lang, g, count(*) AS n FROM g GROUP BY 1, 2, 3
      ), cb AS (
        SELECT g, sum(n) AS cb FROM pg
        WHERE lang = '$LmTrainLang' GROUP BY 1
      ), cu AS (
        SELECT split_part(g, ' ', 1) AS w1, sum(cb) AS cu
        FROM cb GROUP BY 1
      ), voc AS (
        SELECT count(DISTINCT t) AS v FROM (
          SELECT unnest(w) AS t FROM wd WHERE lang = '$LmTrainLang')
      ), scored AS (
        SELECT pg.doc_id, pg.n,
          ln(CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE) /
             CAST(coalesce(cu.cu, 0) + voc.v AS DOUBLE)) AS logp
        FROM pg
        LEFT JOIN cb USING (g)
        LEFT JOIN cu ON split_part(pg.g, ' ', 1) = cu.w1
        CROSS JOIN voc
      ), per_doc AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
          round(CAST(sum(CAST(-n * logp AS DECIMAL(30,15))) AS DOUBLE) /
            CAST(sum(n) AS DOUBLE), 6) AS avg_nll
        FROM scored GROUP BY 1
      )
      SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
        coalesce(p.avg_nll, 0.0) AS avg_nll
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- t13: boilerplate shingle detection — the RefinedWeb/CCNet
    //      common-line removal pass, adapted to this corpus's
    //      single-line docs as common word-[[BoilerN]]-gram removal: a
    //      shingle occurring in >= [[BoilerMinDocs]] DISTINCT docs of
    //      the same source is template boilerplate (nav bars, footers,
    //      license headers); each doc reports how much of it is
    //      boilerplate by occurrence.
    //
    //      Scale shape: one explode feeds ONE map-side-combinable
    //      (doc, source, gram) pre-agg that serves both sides — its
    //      rows are the per-doc-distinct view (the boilerplate vote:
    //      one row per doc per gram) and carry the occurrence counts
    //      (the fraction numerator) — so hot grams hit the
    //      (source, gram) groupBy pre-reduced, one row per doc, and
    //      the boiler join back is key-equality on (source, gram). No
    //      doc-doc comparison at any point: O(corpus grams) at 100 TB.
    "t13_boilerplate" -> QueryDef(
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val pg = Tables.rebalance(docs)
          .select(col("doc_id"), col("source"),
            Text.words(col("text")).as("w"))
          .select(col("doc_id"), col("source"),
            explode(Text.wordShinglesAll(col("w"), BoilerN)).as("g"))
          .groupBy(col("doc_id"), col("source"), col("g"))
          .agg(count(lit(1)).as("n")).pipelineCache()
        val boiler = pg.groupBy(col("source"), col("g"))
          .agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= BoilerMinDocs)
          .select(col("source"), col("g"), lit(1L).as("is_boiler"))
        val perDoc = pg
          .join(boiler, Seq("source", "g"), "left")
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_grams"),
            sum(col("n") * coalesce(col("is_boiler"), lit(0L)))
              .as("n_boiler"))
        docs.select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
            (floor(coalesce(col("n_boiler").cast("double") /
              col("n_grams").cast("double"), lit(0.0)) * 1e6 + 0.5) / 1e6)
              .as("boiler_frac"))
          .withColumn("boiler_heavy",
            (col("boiler_frac") >= BoilerFracFlag).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH wd AS (
        SELECT doc_id, source, $wordsSqlDuck AS w FROM documents
      ), g AS (
        SELECT doc_id, source, unnest(
          CASE WHEN len(w) >= $BoilerN THEN
            list_transform(range(0, len(w) - ${BoilerN - 1}),
              j -> array_to_string(list_slice(w, j+1, j+$BoilerN), ' '))
          ELSE [] END) AS g
        FROM wd
      ), pg AS (
        SELECT doc_id, source, g, count(*) AS n FROM g GROUP BY 1, 2, 3
      ), boiler AS (
        SELECT source, g FROM pg GROUP BY 1, 2
        HAVING count(*) >= $BoilerMinDocs
      ), per_doc AS (
        SELECT pg.doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
          CAST(sum(n * CASE WHEN boiler.g IS NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS n_boiler
        FROM pg LEFT JOIN boiler
          ON pg.source = boiler.source AND pg.g = boiler.g
        GROUP BY 1
      )
      SELECT d.doc_id,
        coalesce(p.n_grams, 0) AS n_grams,
        coalesce(p.n_boiler, 0) AS n_boiler,
        floor(coalesce(CAST(p.n_boiler AS DOUBLE) /
          CAST(p.n_grams AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
          AS boiler_frac,
        CAST(floor(coalesce(CAST(p.n_boiler AS DOUBLE) /
          CAST(p.n_grams AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6
          >= $BoilerFracFlag AS BIGINT) AS boiler_heavy
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- t14: vocab induction — the BPE merge-candidate table (the
    //      kernel of tokenizer training: Sennrich et al. 2016). The
    //      counting trick IS the scale design: adjacent-pair counts
    //      aggregate over distinct word SHAPES weighted by word
    //      frequency, never over raw tokens — so the only
    //      corpus-proportional work is the one tokenize+word-count
    //      pass (map-side combined on the word key; hot words like
    //      "the" are exactly what partial aggregation flattens), and
    //      the pair explode runs on the VOCABULARY, which grows
    //      sub-linearly (Heaps' law) in corpus size. Top-K with a
    //      deterministic (count desc, pair) tiebreak so the table is
    //      reproducible across engines; iterating merge->recount is
    //      the same job shape with merged symbols in place of chars.
    "t14_bpe_pairs" -> QueryDef(
      (s, dir) => {
        // global word frequencies = LONG-exact rollup of the shared
        // [[wordCounts]] checkpoint (one corpus tokenize pass per dir
        // instead of one per consumer — r16, §6)
        val wordFreq = wordCounts(s, dir)
          .groupBy(col("w")).agg(sum(col("n")).as("freq"))
        val pairs = wordFreq
          .filter(length(col("w")) >= 2)
          .select(col("freq"), explode(expr(
            """transform(sequence(1, length(w) - 1),
              i -> struct(substring(w, i, 1) AS a,
                substring(w, i + 1, 1) AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("n_pairs"))
        pairs
          .orderBy(col("n_pairs").desc, col("a"), col("b"))
          .limit(BpeTopPairs)
          .withColumn("pair_rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n_pairs").desc, col("a"), col("b"))))
      },
      Some(s"""WITH wf AS (
        SELECT w, count(*) AS freq
        FROM (SELECT unnest($wordsSqlDuck) AS w FROM documents)
        GROUP BY 1
      ), p AS (
        SELECT substring(w, CAST(i AS INTEGER), 1) AS a,
          substring(w, CAST(i AS INTEGER) + 1, 1) AS b,
          CAST(sum(freq) AS BIGINT) AS n_pairs
        FROM wf, unnest(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2
        GROUP BY 1, 2
      )
      SELECT a, b, n_pairs,
        CAST(row_number() OVER (ORDER BY n_pairs DESC, a, b) AS INTEGER)
          AS pair_rank
      FROM p ORDER BY n_pairs DESC, a, b LIMIT $BpeTopPairs""")),

    // ---- t15: context-length fit — the max_seq_len sweep a training
    //      run does before packing: for each candidate context length,
    //      how many docs fit whole, how many truncate, how many tokens
    //      the truncation loses, and what padding one-doc-per-sequence
    //      would waste. One corpus pass builds the exact token-count
    //      histogram (cardinality <= max doc length — an e4Hist-class
    //      bounded frame at any corpus size); every per-length stat
    //      then reduces over histogram rows x |ContextFitLens|, all
    //      integer arithmetic, never rescanning the corpus. Null-text
    //      docs count as zero-token (they fit trivially) — e3's
    //      coalesce posture.
    "t15_context_fit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val hist = Tables.table(s, dir, "documents")
          .select(coalesce(Text.bpeTokenCount(col("text")).cast("long"),
            lit(0L)).as("n_tokens"))
          .groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
        hist
          .crossJoin(broadcast(ContextFitLens.toDF("seq_len")))
          .groupBy(col("seq_len"))
          .agg(
            sum(when(col("n_tokens") <= col("seq_len"), col("c"))
              .otherwise(0L)).as("n_docs_fit"),
            sum(when(col("n_tokens") > col("seq_len"), col("c"))
              .otherwise(0L)).as("n_docs_truncated"),
            sum(least(col("n_tokens"), col("seq_len")) * col("c"))
              .as("tokens_kept"),
            sum(when(col("n_tokens") > col("seq_len"),
              (col("n_tokens") - col("seq_len")) * col("c"))
              .otherwise(0L)).as("tokens_truncated"),
            sum(when(col("n_tokens") <= col("seq_len"),
              (col("seq_len") - col("n_tokens")) * col("c"))
              .otherwise(0L)).as("padding_tokens"))
          .orderBy(col("seq_len"))
      },
      Some {
        val lens = ContextFitLens.map(l => s"($l)").mkString(", ")
        s"""WITH hist AS (
        SELECT coalesce(CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT), 0)
            AS n_tokens,
          count(*) AS c
        FROM documents GROUP BY 1
      )
      SELECT seq_len,
        CAST(sum(CASE WHEN n_tokens <= seq_len THEN c ELSE 0 END)
          AS BIGINT) AS n_docs_fit,
        CAST(sum(CASE WHEN n_tokens > seq_len THEN c ELSE 0 END)
          AS BIGINT) AS n_docs_truncated,
        CAST(sum(least(n_tokens, seq_len) * c) AS BIGINT) AS tokens_kept,
        CAST(sum(CASE WHEN n_tokens > seq_len
          THEN (n_tokens - seq_len) * c ELSE 0 END) AS BIGINT)
          AS tokens_truncated,
        CAST(sum(CASE WHEN n_tokens <= seq_len
          THEN (seq_len - n_tokens) * c ELSE 0 END) AS BIGINT)
          AS padding_tokens
      FROM hist CROSS JOIN (VALUES $lens) lens(seq_len)
      GROUP BY seq_len ORDER BY seq_len"""
      }),

    // ---- t16: vocabulary coverage / OOV rate — the tokenizer-fit
    //      report: fix the vocab to the corpus's top-[[OovVocabSize]]
    //      words (count desc, word asc — a total order, so the cut is
    //      engine-exact) and report per source its token volume, the
    //      tokens falling outside the vocab, and the integer-micro OOV
    //      share. The per-(source, word) pre-aggregation is the ONLY
    //      corpus-proportional pass; the global counts, the top-V cut
    //      (distributed TakeOrdered, no global sort) and the
    //      per-source rollup all run on vocabulary-sized frames
    //      (sub-linear, Heaps' law), with the vocab joined back
    //      broadcast.
    "t16_oov_rate" -> QueryDef(
      (s, dir) => {
        // the (source, word) pre-aggregation IS the shared
        // [[wordCounts]] checkpoint; t16's own null posture (coalesce
        // to '') is applied by a vocabulary-sized regroup on top — a
        // null-source group and a ''-source group merge to the same
        // long sums the direct coalesced scan produced
        val sw = wordCounts(s, dir)
          .select(coalesce(col("source"), lit("")).as("source"),
            col("w"), col("n"))
          .groupBy(col("source"), col("w"))
          .agg(sum(col("n")).as("n"))
        val vocab = sw.groupBy(col("w"))
          .agg(sum(col("n")).as("gn"))
          .orderBy(col("gn").desc, col("w"))
          .limit(OovVocabSize)
          .select(col("w"), lit(1L).as("in_vocab"))
        sw.join(broadcast(vocab), Seq("w"), "left")
          .groupBy(col("source"))
          .agg(
            sum(col("n")).as("n_words"),
            sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
              .as("n_oov"))
          .withColumn("oov_micro",
            expr("n_oov * 1000000 div n_words"))
          .orderBy(col("source"))
      },
      Some(s"""WITH sw AS (
        SELECT source, w, count(*) AS n
        FROM (SELECT coalesce(source, '') AS source,
          unnest($wordsSqlDuck) AS w FROM documents)
        GROUP BY 1, 2
      ), g AS (
        SELECT w, CAST(sum(n) AS BIGINT) AS gn FROM sw GROUP BY 1
      ), v AS (
        SELECT w FROM g ORDER BY gn DESC, w LIMIT $OovVocabSize
      )
      SELECT source,
        CAST(sum(n) AS BIGINT) AS n_words,
        CAST(sum(CASE WHEN v.w IS NULL THEN n ELSE 0 END) AS BIGINT)
          AS n_oov,
        CAST(sum(CASE WHEN v.w IS NULL THEN n ELSE 0 END) * 1000000 //
          sum(n) AS BIGINT) AS oov_micro
      FROM sw LEFT JOIN v USING (w)
      GROUP BY source ORDER BY source""")),

    // ---- t17: readability profile — Flesch reading-ease per source,
    //      the classic text-difficulty gauge a curriculum/filtering
    //      pass reads next to t2's quality score (Flesch 1948; the
    //      KP-era pipelines bucket web text by it). Everything is
    //      integer-micro arithmetic so the report is order- and
    //      engine-exact: per doc, words = the shared [[Text.words]]
    //      kernel, sentences = [.!?]+ runs + 1 (never zero — headline
    //      docs count as one sentence), syllables = the standard
    //      vowel-group proxy ([aeiouy]+ runs, deterministic where true
    //      syllabification is dictionary-bound). flesch_micro =
    //      206.835e6 - 1.015*words-per-sentence - 84.6*syllables-per-
    //      word (both in micro, truncating div — Spark `div` and
    //      DuckDB `//` both truncate toward zero, so negative scores
    //      on degenerate run-on docs agree exactly). Zero-word docs
    //      score NULL (counted, never averaged — nullif posture, no
    //      divide-by-zero). One row-local projection + one per-source
    //      agg: the corpus is touched ONCE, no joins, no windows; the
    //      report frame is catalog-sized (#sources) at any corpus
    //      size. Sum accumulates in DECIMAL(38,0) before the one
    //      final div so a 100-TB source cannot overflow bigint.
    "t17_readability" -> QueryDef(
      (s, dir) => {
        val perDoc = Tables.table(s, dir, "documents")
          .select(coalesce(col("source"), lit("")).as("source"),
            size(Text.words(coalesce(col("text"), lit(""))))
              .cast("long").as("n_words"),
            (size(regexp_extract_all(coalesce(col("text"), lit("")),
              lit("[.!?]+"), lit(0))) + 1).cast("long").as("n_sent"),
            size(regexp_extract_all(lower(coalesce(col("text"), lit(""))),
              lit("[aeiouy]+"), lit(0))).cast("long").as("n_syll"))
          .withColumn("flesch_micro", expr(
            """206835000L
              - (1015L * (n_words * 1000000L div n_sent)) div 1000L
              - (84600L * (n_syll * 1000000L div nullif(n_words, 0L)))
                  div 1000L"""))
        perDoc.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("flesch_micro")).as("n_scored"),
            expr("""CAST(sum(CAST(flesch_micro AS DECIMAL(38,0))) div
              nullif(count(flesch_micro), 0L) AS LONG)""")
              .as("mean_flesch_micro"),
            min(col("flesch_micro")).as("min_flesch_micro"),
            max(col("flesch_micro")).as("max_flesch_micro"))
          .orderBy(col("source"))
      },
      Some(s"""WITH perdoc AS (
        SELECT coalesce(source, '') AS source,
          CAST(len(regexp_extract_all(lower(coalesce(text, '')),
            '[a-z0-9]+')) AS BIGINT) AS n_words,
          CAST(len(regexp_extract_all(coalesce(text, ''),
            '[.!?]+')) + 1 AS BIGINT) AS n_sent,
          CAST(len(regexp_extract_all(lower(coalesce(text, '')),
            '[aeiouy]+')) AS BIGINT) AS n_syll
        FROM documents
      ), scored AS (
        SELECT source,
          206835000
            - (1015 * (n_words * 1000000 // n_sent)) // 1000
            - (84600 * (n_syll * 1000000 // nullif(n_words, 0))) // 1000
            AS flesch_micro
        FROM perdoc
      )
      SELECT source,
        count(*) AS n_docs,
        count(flesch_micro) AS n_scored,
        CAST(sum(CAST(flesch_micro AS HUGEINT)) //
          nullif(count(flesch_micro), 0) AS BIGINT) AS mean_flesch_micro,
        min(flesch_micro) AS min_flesch_micro,
        max(flesch_micro) AS max_flesch_micro
      FROM scored GROUP BY source ORDER BY source""")),

    // ---- t18: tokenizer fertility — the "how many tokens does this
    //      tokenizer spend per word / how many bytes does a token buy"
    //      report, per (source, lang). Fertility (BPE-ish tokens per
    //      whitespace word) is the standard multilingual-tokenizer cost
    //      metric (high fertility = the language is expensive to train
    //      on); bytes-per-token is the compression view the
    //      byte-budgeting side of a 100-TB ingest plans with. One
    //      corpus scan, three regex counts per row, one
    //      map-side-combined groupBy — embarrassingly parallel.
    //      OVERFLOW BOUNDS: per-source char/byte/token sums are LONG
    //      (safe to ~9.2e18 bytes = 9 EB); the micro-ratio numerators
    //      go through DECIMAL(38,0) (HUGEINT in the twin) so
    //      sum*1e6 never overflows at any corpus size.
    "t18_tokenizer_fertility" -> QueryDef(
      (s, dir) => {
        val perDoc = Tables.table(s, dir, "documents")
          .select(coalesce(col("source"), lit("")).as("source"),
            coalesce(col("lang"), lit("")).as("lang"),
            size(Text.words(coalesce(col("text"), lit(""))))
              .cast("long").as("n_words"),
            Text.bpeTokenCount(coalesce(col("text"), lit("")))
              .cast("long").as("n_tokens"),
            length(coalesce(col("text"), lit("")))
              .cast("long").as("n_chars"),
            octet_length(coalesce(col("text"), lit("")))
              .cast("long").as("n_bytes"))
        perDoc.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_bytes")).as("n_bytes"))
          .withColumn("fertility_micro", expr(
            """CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000
              div nullif(n_words, 0L) AS LONG)"""))
          .withColumn("chars_per_token_micro", expr(
            """CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000
              div nullif(n_tokens, 0L) AS LONG)"""))
          .withColumn("bytes_per_token_micro", expr(
            """CAST(CAST(n_bytes AS DECIMAL(38,0)) * 1000000
              div nullif(n_tokens, 0L) AS LONG)"""))
          .orderBy(col("source"), col("lang"))
      },
      Some("""WITH perdoc AS (
        SELECT coalesce(source, '') AS source, coalesce(lang, '') AS lang,
          CAST(len(regexp_extract_all(lower(coalesce(text, '')),
            '[a-z0-9]+')) AS BIGINT) AS n_words,
          CAST(len(regexp_extract_all(coalesce(text, ''),
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
          CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
          CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes
        FROM documents
      )
      SELECT source, lang, count(*) AS n_docs,
        CAST(sum(n_words) AS BIGINT) AS n_words,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
        CAST(sum(CAST(n_tokens AS HUGEINT)) * 1000000 //
          nullif(sum(n_words), 0) AS BIGINT) AS fertility_micro,
        CAST(sum(CAST(n_chars AS HUGEINT)) * 1000000 //
          nullif(sum(n_tokens), 0) AS BIGINT) AS chars_per_token_micro,
        CAST(sum(CAST(n_bytes AS HUGEINT)) * 1000000 //
          nullif(sum(n_tokens), 0) AS BIGINT) AS bytes_per_token_micro
      FROM perdoc GROUP BY source, lang ORDER BY source, lang""")),

    // ---- t19: language-label noise audit — per source, how often the
    //      n-gram language-ID (t3's exact kernel via [[withPredLang]])
    //      DISAGREES with the corpus's `lang` label. Mislabelled
    //      language is the classic upstream-metadata defect (a crawler
    //      trusting HTML lang attributes): a source whose labels
    //      disagree with content gets its mixture/fertility/OOV
    //      numbers silently wrong, so this is the audit a team runs
    //      BEFORE trusting any per-lang report. Row-local scoring +
    //      one map-side-combined groupBy(source); the disagree share's
    //      denominator excludes 'und' predictions (docs too short or
    //      marker-free carry no evidence either way — they're reported
    //      separately as und_share).
    "t19_lang_label_noise" -> QueryDef(
      (s, dir) => {
        withPredLang(Tables.table(s, dir, "documents"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("pred_lang") === "und", 1L).otherwise(0L))
              .as("n_und"),
            sum(when(col("pred_lang") =!= "und" &&
                (col("lang").isNull || col("pred_lang") =!= col("lang")),
              1L).otherwise(0L)).as("n_disagree"))
          .withColumn("und_share_micro",
            expr("n_und * 1000000 div n_docs"))
          .withColumn("disagree_share_micro", expr(
            "n_disagree * 1000000 div nullif(n_docs - n_und, 0L)"))
          .select(col("source"), col("n_docs"), col("n_und"),
            col("n_disagree"), col("und_share_micro"),
            col("disagree_share_micro"))
          .orderBy(col("source"))
      },
      Some(s"""WITH ${langPredSqlCtes(", source")}
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_und,
        CAST(sum(CASE WHEN pred_lang <> 'und' AND
            (lang IS NULL OR pred_lang <> lang) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_disagree,
        CAST(sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END)
          * 1000000 // count(*) AS BIGINT) AS und_share_micro,
        CAST(sum(CASE WHEN pred_lang <> 'und' AND
            (lang IS NULL OR pred_lang <> lang) THEN 1 ELSE 0 END)
          * 1000000 // nullif(count(*) - sum(CASE WHEN pred_lang = 'und'
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS disagree_share_micro
      FROM p GROUP BY source ORDER BY source""")),

    // ---- t20: BPE VOCAB INDUCTION — the actual iterative merge loop
    //      (t14 reports only round-1 candidates; a tokenizer pipeline
    //      ships the RANKED MERGE LIST). One distributed corpus scan
    //      builds the word-frequency table; the k<=BpeMerges rounds run
    //      over the BpeShapeWords-capped shape dictionary
    //      ([[graft.text.Bpe.induce]] — see its scale note: 50 rounds
    //      over a 50k dict is driver-trivial at any corpus size, and a
    //      per-round Spark job would only add scheduler latency).
    //      Output: (merge_rank, lhs, rhs, merged, pair_freq),
    //      deterministic under any partitioning (count ties break
    //      lexicographically; the dict cap orders freq DESC, word ASC).
    //
    //      Oracle: sf0.01-pinned VALUES generated by an INDEPENDENT
    //      from-scratch implementation (tools/bpe_reference.py) — the
    //      m4/q21 documented-pin class, because an iterative global
    //      argmax is not expressible as one DuckDB statement (recursive
    //      CTEs cannot aggregate over their own recursive reference).
    //      Regenerate with:
    //        python3 tools/bpe_reference.py /root/testdata/sf0.01 --sql
    //      BpeSpec checks the live loop against hand-computed merges on
    //      a fixture corpus and re-measures t18 fertility with the
    //      induced vocab (the merge list must strictly beat chars).
    "t20_bpe_vocab" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        inducedMerges(s, dir)
          .map(m => (m.rank.toLong, m.left, m.right, m.merged, m.pairFreq))
          .toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq")
      },
      Some(s"""SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lhs, rhs,
          merged, CAST(pair_freq AS BIGINT) AS pair_freq
        FROM (VALUES
          (1, 'e', 'r', 'er', 4568),
          (2, 'i', 'n', 'in', 2760),
          (3, 'o', 'w', 'ow', 2747),
          (4, 'o', 'r', 'or', 2696),
          (5, 's', 't', 'st', 2676),
          (6, 'm', 'er', 'mer', 1852),
          (7, 'a', 't', 'at', 1845),
          (8, 'l', 'u', 'lu', 1831),
          (9, 'a', 'r', 'ar', 1758),
          (10, 'p', 'ar', 'par', 1758),
          (11, 'j', 'o', 'jo', 964),
          (12, 'jo', 'in', 'join', 964),
          (13, 'a', 's', 'as', 947),
          (14, 'as', 'h', 'ash', 947),
          (15, 'h', 'ash', 'hash', 947),
          (16, 'r', 'ow', 'row', 943),
          (17, 'at', 'c', 'atc', 937),
          (18, 'atc', 'h', 'atch', 937),
          (19, 'b', 'atch', 'batch', 937),
          (20, 'a', 'n', 'an', 936),
          (21, 'c', 'an', 'can', 936),
          (22, 's', 'can', 'scan', 936),
          (23, 'c', 'o', 'co', 934),
          (24, 'c', 'u', 'cu', 934),
          (25, 'co', 'lu', 'colu', 934),
          (26, 'colu', 'm', 'colum', 934),
          (27, 'colum', 'n', 'column', 934),
          (28, 'cu', 'st', 'cust', 934),
          (29, 'cust', 'o', 'custo', 934),
          (30, 'custo', 'mer', 'customer', 934),
          (31, 'f', 'i', 'fi', 933),
          (32, 'fi', 'l', 'fil', 933),
          (33, 'fil', 't', 'filt', 933),
          (34, 'filt', 'er', 'filter', 933),
          (35, 'a', 'l', 'al', 928),
          (36, 'al', 'l', 'all', 928),
          (37, 'm', 'all', 'mall', 928),
          (38, 's', 'mall', 'small', 928),
          (39, 'g', 'e', 'ge', 918),
          (40, 'l', 'ow', 'low', 918),
          (41, 'mer', 'ge', 'merge', 918),
          (42, 's', 'low', 'slow', 918),
          (43, 'c', 't', 'ct', 912),
          (44, 'ct', 'or', 'ctor', 912),
          (45, 'd', 'er', 'der', 912),
          (46, 'e', 'ctor', 'ector', 912),
          (47, 'or', 'der', 'order', 912),
          (48, 'v', 'ector', 'vector', 912),
          (49, 'in', 'e', 'ine', 910),
          (50, 'l', 'ine', 'line', 910)
        ) AS t(merge_rank, lhs, rhs, merged, pair_freq)
        ORDER BY merge_rank""")),

    // ---- t21: TOKENIZER APPLY — t20's vocab given its first-class
    //      consumer (the r13 verdict item): encode the corpus with the
    //      induced merge list through the SAME [[graft.text.Bpe]]
    //      kernel the trainer used, and report per-source tokens/word
    //      against the character baseline. This is the artifact a
    //      tokenizer team ships alongside the merge list: fertility by
    //      source (does the vocab trained on the whole corpus serve
    //      every source?), with the beats-chars verdict promoted from
    //      spec level (BpeSpec) to an oracle-checked column.
    //
    //      Scale shape: the corpus-sized work is ONE (source, word)
    //      count scan (map-side combined); tokenization applies to the
    //      per-source DISTINCT-word frame (vocabulary-sized), each
    //      word encoded once and weighted by its count — the
    //      posture of production tokenizer eval (never a per-document
    //      re-encode). Output rows = #sources. Induction itself is
    //      shared with t20 via [[inducedMerges]] (memoized per dir, so
    //      the pipeline pays the word-count scan + 50-round loop once
    //      per corpus).
    //
    //      Oracle: same documented class as t20 — the merge list is an
    //      iterative global argmax, so the twin is an sf0.01 VALUES
    //      pin generated by the INDEPENDENT tools/bpe_reference.py
    //      (--apply mode re-implements tokenize from scratch too).
    //      Regenerate: python3 tools/bpe_reference.py <sf> --apply
    "t21_bpe_tokenize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ranks = inducedMerges(s, dir)
          .map(m => (m.left, m.right) -> m.rank).toMap
        val bc = s.sparkContext.broadcast(ranks)
        // per-(source, word) counts from the shared [[wordCounts]]
        // checkpoint (raw source column — t21's null posture) instead
        // of re-running the corpus tokenize pass (r16, §6)
        wordCounts(s, dir)
          .select(col("source"), col("w"), col("n").as("freq"))
          .as[(String, String, Long)]
          .map { case (src, w, f) =>
            (src, f, Bpe.tokenize(w, bc.value).length * f, w.length * f) }
          .toDF("source", "wc", "tc", "cc")
          .groupBy(col("source"))
          .agg(sum(col("wc")).as("n_words"),
            sum(col("tc")).as("n_tokens"),
            sum(col("cc")).as("n_chars"))
          .withColumn("fertility_micro",
            expr("n_tokens * 1000000L div nullif(n_words, 0L)"))
          .withColumn("char_fertility_micro",
            expr("n_chars * 1000000L div nullif(n_words, 0L)"))
          .withColumn("beats_chars",
            (col("n_tokens") < col("n_chars")).cast("long"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, CAST(n_words AS BIGINT) AS n_words,
          CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(n_chars AS BIGINT) AS n_chars,
          CAST(fertility_micro AS BIGINT) AS fertility_micro,
          CAST(char_fertility_micro AS BIGINT) AS char_fertility_micro,
          CAST(beats_chars AS BIGINT) AS beats_chars
        FROM (VALUES
          ('src0', 1435, 3172, 6539, 2210452, 4556794, 1),
          ('src1', 1540, 3453, 7055, 2242207, 4581168, 1),
          ('src10', 1303, 3000, 5883, 2302379, 4514965, 1),
          ('src11', 1522, 3409, 6890, 2239816, 4526938, 1),
          ('src12', 1272, 2813, 5680, 2211477, 4465408, 1),
          ('src13', 1553, 3431, 6934, 2209272, 4464906, 1),
          ('src14', 1318, 3013, 5923, 2286039, 4493930, 1),
          ('src15', 1298, 2906, 5827, 2238828, 4489214, 1),
          ('src16', 1351, 3004, 6158, 2223538, 4558105, 1),
          ('src17', 1373, 3036, 6129, 2211216, 4463947, 1),
          ('src18', 1364, 3047, 6217, 2233870, 4557917, 1),
          ('src19', 1147, 2500, 5184, 2179598, 4519616, 1),
          ('src2', 1407, 3232, 6307, 2297085, 4482587, 1),
          ('src3', 1384, 3082, 6261, 2226878, 4523843, 1),
          ('src4', 1294, 2991, 5829, 2311437, 4504636, 1),
          ('src5', 1329, 2974, 5950, 2237772, 4477050, 1),
          ('src6', 1266, 2738, 5723, 2162717, 4520537, 1),
          ('src7', 1507, 3340, 6719, 2216323, 4458526, 1),
          ('src8', 1136, 2583, 5166, 2273767, 4547535, 1),
          ('src9', 1366, 3083, 6135, 2256954, 4491215, 1)
        ) AS t(source, n_words, n_tokens, n_chars, fertility_micro,
               char_fertility_micro, beats_chars)
        ORDER BY source"""))
  )

  /** t20/t21's shared induction: the distributed word-count scan +
    * the driver-side merge loop, memoized per data dir so the two
    * queries pay it once per corpus per JVM — the Materialize posture
    * for a driver-sized artifact (a <=50-row merge list does not need a
    * parquet round-trip). */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  /** Cache key = dir + a cheap content fingerprint (sum of file sizes
    * and mtimes under documents.parquet), so a corpus REWRITTEN at the
    * same path within one JVM (data regeneration, tests sharing a tmp
    * dir) re-induces instead of serving stale merges (r14 ADVICE). */
  private def mergeCacheKey(dir: String): String = {
    val root = java.nio.file.Paths.get(dir, "documents.parquet")
    val fp =
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(p => java.nio.file.Files.size(p) +
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .sum()
        finally s.close()
      }
    s"$dir@$fp"
  }
  def inducedMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Bpe.Merge] =
    mergeCache.computeIfAbsent(mergeCacheKey(dir), _ => {
      val shapes = inductionShapes(s, dir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Bpe.induce(shapes, BpeMerges, BpeMinPairFreq)
    })

  /** The distributed half of [[inducedMerges]]: the [[BpeShapeWords]]
    * most frequent words as (w, freq), which the driver-side induction
    * collects. The corpus-sized scan is the shared [[wordCounts]]
    * checkpoint's rollup (r16, §6): identical freqs (long sums of the
    * per-source counts), identical (freq desc, w) cut. */
  private[graft] def inductionShapes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    wordCounts(s, dir)
      .groupBy(col("w")).agg(sum(col("n")).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(BpeShapeWords)
}
