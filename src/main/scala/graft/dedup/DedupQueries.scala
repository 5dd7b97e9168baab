package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.core.Caches.PipelineCacheOps
import graft.sources.Tables
import graft.text.Text

/** Deduplication operators over `documents` / `embeddings`: exact
  * (hash-groupBy), MinHash+LSH (shingle -> signature -> band ->
  * bucket-join -> exact-Jaccard verify), SimHash bit signatures, char
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: candidate generation is always a key-equality join
  * (band key / chunk key / blocking key), never an all-pairs product —
  * the only quadratic step runs inside an LSH bucket, which is capped at
  * [[MaxBucket]] docs (hot buckets are dropped, the standard LSH guard),
  * so cost is O(n · bands) shuffle + O(cap² · buckets) compare at any
  * corpus size. All hashing is md5-based and engine-portable; every
  * query has a DuckDB oracle twin.
  */
object DedupQueries {

  /** Bucket-size cap: LSH buckets larger than this are dropped from
    * candidate generation (hot-bucket guard for 100 TB corpora). */
  val MaxBucket = 50

  /** d4 blocking: max |n_chars| difference for a candidate pair; also the
    * length-bucket width, so the tolerance window spans adjacent buckets. */
  val LengthTolerance = 20

  /** d4 block-size cap: docs in a (source, length-bucket) block larger
    * than this are excluded from candidate generation entirely (both
    * sides of the join), bounding the within-block quadratic at
    * cap²/2 pairs per block — the same hot-key guard as [[MaxBucket]]
    * for d2 bands and [[NdMaxBucket]] for d5 LSH buckets. A 100-TB
    * corpus with few sources can put millions of docs into one 20-char
    * length band of one source; without the cap that block alone is
    * O(block²) pairs with full shingle arrays shuffled per pair. The
    * cap never binds at correctness scale (max block is 4 docs at
    * sf0.01, 21 at sf0.1 — DedupSpec asserts max block << cap at every
    * test sf), and the DuckDB twin mirrors the same guard (windowed
    * block count, both join sides), so the two stay hash-identical
    * even if a block ever crosses the cap. */
  val D4MaxBlock = 1000

  /** d5 gate: corpora at or below this size take the exact brute-force
    * pair scan; larger corpora generate candidates by hyperplane-LSH band
    * keys and exact-rerank (approximate by design — the price of
    * avoiding an O(n^2) scan at 100 TB). A result contract, not a speed
    * gate: the two arms return different pairs, and the brute DuckDB
    * twins hold only at or below it. */
  val NearDupBruteMax = 1000L

  /** Deduplicated-edge count at or below which [[connectedComponents]]
    * labels components with a single driver-side union-find pass
    * instead of the star-contraction loop (~32 MB of (long, long) rows
    * at the gate — the d7 bounded-collect class, and the bound is
    * enforced by the gate itself). Above it only the loop keeps driver
    * memory bounded; sf10's d2 graph (~2.45M edges) already takes it.
    * Same-JVM A/B, 4 cores, `graft.ScaleUp` data, 6 alternating pairs
    * after one untimed run of each arm, upstream pairs materialized,
    * full materialization, median [IQR] in s, rows equal in every pair:
    *
    * | scale | graph | driver | loop | driver faster |
    * |---|---|---|---|---|
    * | sf0.1 | d2-components | 0.38 [0.37–0.40] | 1.17 [1.15–1.31] | 6/6 |
    * | sf0.1 | d9 | 0.62 [0.60–0.70] | 2.97 [2.81–3.21] | 6/6 |
    * | sf1 | d2-components | 0.90 [0.85–0.95] | 2.98 [2.77–3.09] | 6/6 |
    * | sf1 | d9 | 0.89 [0.85–0.93] | 2.93 [2.82–3.04] | 6/6 |
    *
    * The loop's rounds of shuffle jobs, checksums and checkpoints cost
    * 2-2.5 s at every scale the driver arm serves. */
  val CcDriverMaxEdges = 2000000L
  val NdBands = 12
  val NdBits = 4
  val NdMaxBucket = 2000

  /** d5/d9 rerank: broadcast the slim vector frame (vec_id, v, nrm —
    * ~520 B/row) under this many vectors instead of sort-merge-joining
    * the much larger candidate pair stream twice. 500k vectors ≈
    * 260 MB built relation — the "few hundred MB is usually fine"
    * band of guide §3.1; sf10's 200k vectors sit under the gate, a
    * 100-TB corpus falls back to the planner's sort-merge.
    *
    * Measured against the plain plan under Spark's defaults (AQE on):
    * sf1 (20k vectors, 10.6M candidate pairs), 4 cores, 6 alternating
    * pairs in one JVM, LSH pair build + rerank: broadcast 8.15 s
    * [IQR 8.04-8.23] vs plain 20.50 s [20.15-22.21]; the gate won 6
    * of 6. */
  val NdRerankBroadcastMaxVectors = 500000L

  /** d2's est pre-filter: below this many on-disk bytes of documents
    * parquet the slim (doc_id, mh) signature frame is broadcast into
    * the two estimate lookups (~260 MB built relation at a 500k-doc
    * sf10 corpus — the d5 rerank gate's envelope), so the candidate
    * pair stream is never shuffled; at or above, the planner's
    * sort-merge stands (a 100-TB signature table must not be
    * broadcast). The probe is [[graft.sources.Tables.fileBytes]], which
    * starts no Spark job (documents is ~57 MB at sf10, ~570 MB at
    * sf100).
    *
    * Measured against the plain plan under Spark's defaults (AQE on),
    * 4 cores, alternating pairs in one JVM, d2 pair build with the
    * upstream checkpoints warm: sf1 (50k docs) is a tie — broadcast
    * 25.81 s [IQR 25.39-26.02] vs plain 25.51 s [25.26-26.09], 3 of 6
    * each way; at sf10 (500k docs, 3.4M verified pairs) the broadcast
    * wins — 66.94 s [66.47-68.72] vs 95.08 s [92.40-96.52], 5 of 5. */
  val D2EstBroadcastMaxDocBytes: Long = 256L << 20

  /** d5/d9 LSH bucket-occupancy target: bits-per-band scale with corpus
    * size so a band's expected bucket holds ~this many vectors. A FIXED
    * bits-per-band makes bucket sizes grow linearly with the corpus and
    * within-bucket pair counts quadratically — the sf1 rehearsal
    * measured exactly that (d5 15.8× at 10× data with 16 buckets/band).
    * [[ndBitsFor]] keeps the per-bucket quadratic constant instead:
    * buckets/band = 2^bits grows with n, bucket ~ NdTargetBucket, total
    * candidate pairs O(n · bands · NdTargetBucket). Recall for a pair
    * at angular similarity p is 1-(1-p^bits)^bands — near-dup targets
    * sit at p close to 1, where extra bits cost little (p=0.95, bits 8,
    * bands 12: recall 0.9996).
    *
    * 125 was re-decided by the committed sf10 cost A/B with measurable
    * recall (r14 verdict #6); ndBitsFor pins in EmbeddingLshRecallSpec
    * assume it. */
  final val NdTargetBucket = 125L

  /** The recall design point for [[ndBandsFor]]: hold the multi-band
    * OR-construction's predicted recall at or above
    * [[NdDesignRecall]] for pairs at cosine [[NdDesignCos]] — the
    * similarity where near-duplicate targets live. */
  final val NdDesignCos = 0.95
  final val NdDesignRecall = 0.99

  /** Bands scale WITH bits (r14 verdict #1): [[ndBitsFor]] grows bits
    * to keep the per-bucket quadratic constant, but at FIXED bands the
    * recall formula 1-(1-p^bits)^bands collapses as bits grow — at the
    * 24-bit cap with 12 bands it predicts ~62% at cos 0.95 and ~25%
    * at cos 0.90, and the r15 planted-cosine sweep MEASURED that
    * collapse (LshGeometrySweep in EmbeddingLshRecallSpec). This
    * holds the design-point recall instead:
    *   bands(bits) = max(NdBands, ceil(ln(1/(1-R)) / p*^bits)),
    * p* = 1 - acos(NdDesignCos)/pi = 0.899 — i.e. keep the expected
    * number of colliding bands for a design-point pair constant.
    * Values: bits 4..8 -> 12 (TEST and sf1 geometry UNCHANGED — every
    * committed pin and PERF number below bits 9 is untouched),
    * 11 -> 15 (sf10), 12 -> 17, 16 -> 26, 24 -> 60.
    * Cost: candidate volume O(n * bands * NdTargetBucket) grows 5x at
    * the 24-bit cap (60/12 bands) vs the broken fixed-band geometry —
    * the measured price of ~99% design-point recall (vs the
    * alternative, Hamming-1 multiprobe on both join sides, which
    * needs (1+bits)x key inflation = 25x candidate volume at the cap
    * for comparable recall; rejected with numbers in PERF.md r15). */
  def ndBandsFor(bits: Int): Int = {
    val p = 1.0 - math.acos(NdDesignCos) / math.Pi
    val need =
      math.log(1.0 / (1.0 - NdDesignRecall)) / math.pow(p, bits)
    math.max(NdBands, math.ceil(need).toInt)
  }

  /** [[ndBitsFor]] rendered as a SQL CASE over an n-valued expression,
    * so a DuckDB twin derives the SAME geometry the engine runs at any
    * corpus size — the piece that lets d27 stay oracle-exact without a
    * brute-force validity bound. Thresholds are the exact integers the
    * Scala loop tests (NdTargetBucket << b), so the two can never
    * disagree. */
  def ndGeometrySqlCase(n: String): String =
    (NdBits until 24).map(b =>
      s"WHEN $n <= ${NdTargetBucket << b} THEN $b")
      .mkString("(CASE ", " ", " ELSE 24 END)")

  /** [[ndBandsFor]] as a SQL CASE over a bits-valued expression (the
    * band schedule is a pure function of bits, enumerable 4..24). */
  def ndBandsSqlCase(bits: String): String =
    (NdBits until 24).map(b => s"WHEN $b THEN ${ndBandsFor(b)}")
      .mkString(s"(CASE $bits ", " ", s" ELSE ${ndBandsFor(24)} END)")

  /** d25 audit slice width in vec_ids (min-anchored, so the exact
    * all-pairs truth stays a constant <=125k-pair probe at any corpus
    * size — [[LshEvalMaxId]]'s posture for the embedding channel).
    * NOTE: final vals, declared ABOVE the defs maps that interpolate
    * them (OracleRenderSpec / the d18 init-order lesson). */
  final val NdEvalMaxIds = 500L

  /** d25 band geometry: bits-per-band pinned to [[ndBitsFor]](20000)
    * = 8 — the sf1 PRODUCTION value — instead of the audit corpus's
    * own (smaller) value, so the audit grades the geometry the branch
    * actually runs at scale AND the DuckDB twin can be a static SQL
    * string (a runtime-sized plane set cannot). Bands stay [[NdBands]]
    * — identical to the production [[ndBandsFor]](8) = 12, so the
    * audit still grades the exact sf1 production geometry after the
    * r15 band scaling (EmbeddingLshRecallSpec pins the equality). */
  final val D25Bits = 8

  /** d26 geometry grid: every [[ndBitsFor]] tier the production
    * channel can reach ({8, 12, 16, 24} — the sf1 value and the
    * above-sf1 growth steps up to the cap), each at BOTH the r14
    * fixed band count ([[NdBands]]) and the r15 scaled
    * [[ndBandsFor]](bits); (8, 12) appears once (the modes coincide
    * there). Derived, so the engine loop and the interpolated twin
    * SQL can never disagree. final val declared ABOVE the defs map
    * that interpolates it (the OracleRenderSpec init-order rule). */
  final val D26Geometries: Seq[(Int, Int)] =
    Seq(8, 12, 16, 24)
      .flatMap(b => Seq((b, NdBands), (b, ndBandsFor(b)))).distinct

  /** Smallest bits >= [[NdBits]] with 2^bits * NdTargetBucket >= n
    * (integer arithmetic — no float log2 edge cases). n = 2000 (the
    * largest bench corpus at sf0.1, and everything below) yields
    * exactly NdBits=4, so test-scale behavior is bit-identical to the
    * fixed-bits form; n = 20k (sf1) yields 8. Capped at 24 bits
    * (16M buckets/band — beyond any single-job corpus). */
  def ndBitsFor(n: Long): Int = {
    var b = NdBits
    while ((NdTargetBucket << b) < n && b < 24) b += 1
    b
  }

  /** d9: cosine threshold for an embedding near-dup EDGE (cluster
    * membership). Below d5's top-k reporting cut, chosen so the synthetic
    * corpus yields non-trivial clusters at every sf. NOTE: declared
    * before the eager `otherDefs` map that interpolates it. */
  val NearDupCosThreshold = 0.4

  /** d11: cosine-to-centroid at/above this marks a vector as part of its
    * cluster's semantic-duplicate core (SemDeDup's epsilon, expressed as
    * a similarity floor). Corpus-dependent in practice — 0.3 sits at
    * ~p90 of the synthetic corpus's cosine-to-centroid distribution at
    * every sf (measured 0.27–0.30), so roughly a tenth of each corpus
    * is deduplicated away at any test scale. */
  val SemDedupTau = 0.3

  /** d18 containment threshold as an exact rational (inter/min >=
    * ContainNum/ContainDenom = 0.6): the verify compares
    * inter·Denom >= Num·min(n1,n2) in integers, so the keep/drop
    * decision is bit-identical on any engine. */
  val ContainNum = 6L
  val ContainDenom = 10L
  /** d18's second candidate channel: bottom-k shingle fingerprints per
    * doc. Minhash banding recalls a contained pair with
    * 1-(1-J²)^Bands, and containment's J shrinks as 1/size-gap — the
    * decay d22 measures. Bottom-k exploits the SUBSET structure
    * instead: if sh(S) ⊆ sh(L), any of L's k smallest shingle
    * fingerprints that lies in S ranks within S's bottom-k
    * automatically (its rank in S is ≤ its rank in L), so the pair
    * collides with probability ≈ 1-(1-1/gap)^k — flat where banding
    * collapses (gap 8: ~88% at k=16 vs ~40% banded).
    *
    * `final` AND declared ABOVE the defs map on purpose: the r13 sf1
    * oracle leg caught this val rendering as 0 inside d18/d22's
    * interpolated oracle SQL ("[1:0]" — an empty bottom-k channel)
    * because the defs-map val initialized FIRST and read the
    * not-yet-assigned field (Scala vals initialize in declaration
    * order). The ENGINE was never wrong (bottomKeys is a def,
    * evaluated after init); the ORACLE silently under-counted — 17
    * bottom-k-only true pairs at sf1. OracleRenderSpec pins the
    * rendered constants so a reordering can't regress this. */
  final val ContainBottomK = 16

  /** d20 sweep grid, Jaccard-micro units. Floor = [[JaccardThreshold]]
    * (the shared pair table only holds verified pairs at or above
    * d2's verify threshold — sweeping below it would need a looser
    * candidate build, a different operator). */
  val SweepThresholdsMicro: Seq[Long] =
    Seq(300000L, 400000L, 500000L, 600000L, 700000L, 800000L, 900000L)

  val MinhashK = 64
  val Bands = 32
  val Rows = 2
  val JaccardThreshold = 0.3
  /** Signature-estimate slack below the Jaccard threshold (2.5 sd of the
    * k=64 minhash estimator) for the verify pre-filter. */
  val EstMargin = 0.15

  /** d10 repeated-window size in words (Lee et al. 2022 use 50 BPE
    * tokens; 8 words fits this corpus's 10-99-word documents). */
  val SubstringWindow = 8
  /** d24 audit-slice bound (doc_id < min + this; the d21/d22
    * min-anchored constant-size pattern) and the truth enumeration's
    * length cap — lengths beyond it clip into the top bucket, which is
    * all the report needs to grade the [[SubstringWindow]] boundary. */
  val SubstrAuditMaxId = 200L
  val SubstrAuditMaxLen = 16

  /** d23: words per non-overlapping scrub block (the "line" unit of
    * line-level dedup on a corpus without newlines). */
  val ScrubBlockWords = 10

  /** d16 snapshot-derivation constants: old omits doc_id % DiffMod ==
    * DiffAddSlot ("added"), new omits % == DiffRemoveSlot ("removed")
    * and rewrites text when doc_id % DiffChangeMod == DiffChangeSlot
    * ("changed"). Slots are distinct residues so every class is
    * populated at every test sf. */
  val DiffMod = 20L
  val DiffAddSlot = 3L
  val DiffRemoveSlot = 0L
  val DiffChangeMod = 11L
  val DiffChangeSlot = 5L

  private val wordsSqlDuck = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private def shinglesSqlDuck(n: Int) =
    s"""CASE WHEN len($wordsSqlDuck) >= $n THEN
      list_distinct(list_transform(range(0, len($wordsSqlDuck) - ${n - 1}),
        j -> array_to_string(list_slice($wordsSqlDuck, j+1, j+$n), ' ')))
      ELSE [] END"""

  // lazy: the map is assembled from otherDefs declared further down
  lazy val defs: Map[String, QueryDef] = Map(

    // ---- d1: exact dedup via normalized-text hash; canonical = min doc id
    "d1_exact_dedup" -> QueryDef(
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .withColumn("fp", md5(Text.normText(col("text"))))
        val w = Window.partitionBy(col("fp"))
        d.withColumn("canonical_id", min(col("doc_id")).over(w))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("is_dup",
            when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
          .select(col("doc_id"), col("fp"), col("canonical_id"),
            col("cluster_size"), col("is_dup"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
        SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        FROM documents
      )
      SELECT doc_id, fp,
        min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
        count(*) OVER (PARTITION BY fp) AS cluster_size,
        CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS is_dup
      FROM d ORDER BY doc_id""")),

    // ---- d2: MinHash + LSH near-dup pairs, exact-Jaccard verified
    "d2_minhash_lsh" -> QueryDef(
      (s, dir) =>
        minhashPairs(s, dir).orderBy(col("doc1"), col("doc2")),
      Some(s"""WITH $d2CoreSql
      SELECT doc1, doc2, jaccard FROM verified ORDER BY doc1, doc2""")),

    // ---- d6: dedup cluster assignment — connected components over the
    //      verified d2 pair graph (min-label propagation; see
    //      [[connectedComponents]]), canonical = min doc id per
    //      component. This is what a training pipeline actually
    //      consumes: pairs -> clusters -> keep one canonical doc.
    "d6_dup_clusters" -> QueryDef(
      (s, dir) => {
        val comp = minhashComponents(s, dir)
        val sizes = comp.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L)
              .as("is_canonical"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $d2CoreSql,
      nodes AS (SELECT doc_id FROM documents),
      sym AS (
        SELECT doc1 AS a, doc2 AS b FROM verified
        UNION ALL SELECT doc2, doc1 FROM verified
      ),
      walk(doc, comp) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        -- descending-labels prune (r14 sf1-tractability): the component
        -- minimum m reaches every node through intermediates all > m,
        -- so (node, m) is still generated and min-per-node is unchanged
        SELECT s.b, w.comp FROM walk w JOIN sym s
          ON s.a = w.doc AND w.comp < s.b
      ),
      cc AS (SELECT doc, min(comp) AS cluster_id FROM walk GROUP BY doc),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
      SELECT doc AS doc_id, cc.cluster_id, cluster_size,
        CASE WHEN doc = cc.cluster_id THEN 1 ELSE 0 END AS is_canonical
      FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
      ORDER BY doc_id""")),

    // ---- d8: leakage-safe train/val/test split — the assignment coin
    //      hashes the dedup CLUSTER id, not the document id, so every
    //      near-duplicate lands in the same split (hashing doc ids leaks
    //      paraphrases of eval docs into train — the subtle bug this
    //      operator exists to prevent). Consumes d6's components off the
    //      materialized pair table; the split itself is a row-wise
    //      deterministic decision, no extra shuffle.
    "d8_leakage_safe_split" -> QueryDef(
      (s, dir) => {
        val comp = minhashComponents(s, dir)
        val u = (conv(substring(md5(col("cluster_id").cast("string")
          .cast("binary")), 1, 15), 16, 10).cast("long") % 1000L)
          .cast("double") / 1000.0
        comp
          .withColumn("split",
            when(u < SplitTrainFrac, "train")
              .when(u < SplitTrainFrac + SplitValFrac, "val")
              .otherwise("test"))
          .select(col("doc_id"), col("cluster_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $d2CoreSql,
      nodes AS (SELECT doc_id FROM documents),
      sym AS (
        SELECT doc1 AS a, doc2 AS b FROM verified
        UNION ALL SELECT doc2, doc1 FROM verified
      ),
      walk(doc, comp) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        -- descending-labels prune (r14 sf1-tractability): the component
        -- minimum m reaches every node through intermediates all > m,
        -- so (node, m) is still generated and min-per-node is unchanged
        SELECT s.b, w.comp FROM walk w JOIN sym s
          ON s.a = w.doc AND w.comp < s.b
      ),
      cc AS (SELECT doc, min(comp) AS cluster_id FROM walk GROUP BY doc)
      SELECT doc AS doc_id, cluster_id,
        CASE WHEN (CAST(('0x' ||
            substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 1000) / 1000.0 < $SplitTrainFrac THEN 'train'
          WHEN (CAST(('0x' ||
            substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 1000) / 1000.0 < ${SplitTrainFrac + SplitValFrac} THEN 'val'
          ELSE 'test' END AS split
      FROM cc ORDER BY doc_id"""))
  ) ++ otherDefs

  /** d8 split fractions (train/val; test = remainder). */
  val SplitTrainFrac = 0.8
  val SplitValFrac = 0.1

  /** Shingled documents `(doc_id, sh, n, fp)` — materialized: the shingle
    * arrays are scanned by signature generation and again by the exact
    * verify, and at 100 TB this is the checkpoint a pipeline would
    * write anyway rather than re-shingling the corpus per consumer. */
  def shingled(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d2-shingles|$dir") {
      // Three plan traps, each measured at ~5-10s on a 5000-doc corpus
      // before the fix: (a) words bound to a column FIRST — HOFs defeat
      // common-subexpression elimination, inlining the regex re-tokenizes
      // per shingle; (b) the emptiness filter is the cheap equivalent
      // `size(w) >= n`, NOT `size(sh) > 0` — a filter on the computed
      // column gets pushed below the exchange with the whole shingle
      // expression re-expanded into it; (c) the scan is rebalanced so the
      // interpreted (non-codegen) shingle projection never runs on one
      // small-file task.
      Tables.rebalance(Tables.table(s, dir, "documents"))
        .select(col("doc_id"), Text.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), Text.wordShingles(col("w"), 2).as("sh"))
        .transform(fingerprinted)
    }

  /** `(doc_id, sh)` → `(doc_id, sh, n, fp)`: the distinct-shingle count
    * and the per-shingle 60-bit fingerprints (conv(substr(md5, 1, 15))),
    * as the [[shingled]] checkpoint stores them. Precomputed AT THE
    * CHECKPOINT (r16): the md5-per-shingle ran once per CONSUMER before
    * — the signature build re-hashed every exploded shingle and each
    * fingerprint verify (minhashPairs, d14, d18/d22) re-ran the
    * transform over its join sides. Hashing the corpus exactly once is
    * the §6 write-the-derived-column-once move, and column pruning lets
    * fp-only consumers skip the gram strings at the scan entirely.
    * Fixture frames for the containment verify are built through this
    * same derivation. */
  def fingerprinted(shingles: DataFrame): DataFrame =
    shingles
      .withColumn("n", size(col("sh")).cast("long"))
      .withColumn("fp",
        expr("transform(sh, s -> " +
          "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"))

  /** Slim `(doc_id, mh)` minhash signature frame — materialized.
    * Signatures via explode + 64 min-aggregates instead of nested
    * higher-order functions: HOFs fall out of whole-stage codegen,
    * while an exploded shingle row with 64 codegen'd min() columns
    * is a single map-side-combined shuffle of O(#shingles) rows.
    * Same arithmetic as Text.minhash (and the DuckDB oracle). */
  def signatures(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d2-sigs|$dir") {
      val p = Text.MinhashP
      // the checkpoint's precomputed 60-bit fingerprint IS
      // conv(substr(md5(s),1,15)) — h = fp % P is the same long the
      // inline md5 produced, without re-hashing every exploded
      // shingle (see [[shingled]])
      val hashed = Tables.rebalance(shingled(s, dir))
        .select(col("doc_id"), explode(col("fp")).as("f"))
        .withColumn("h", col("f") % p)
      val minExprs = (1 to MinhashK).map { i =>
        val a = (i.toLong * 40503L + 12345L) % (p - 1) + 1L
        val b = (i.toLong * 69069L + 7L) % p
        min((col("h") * a + b) % p).as(s"m$i")
      }
      hashed.groupBy(col("doc_id"))
        .agg(minExprs.head, minExprs.tail: _*)
        .select(col("doc_id"),
          // persist as int32: every value is mod P = 2^31 - 1, so the
          // 64-entry signature stores in half the bytes; read side
          // casts back to bigint so consumers (band keys, est compare)
          // see the exact same longs
          array((1 to MinhashK).map(i => col(s"m$i")): _*)
            .cast("array<int>").as("mh"))
    }.withColumn("mh", col("mh").cast("array<bigint>"))

  /** Verified MinHash near-dup pairs (doc1 < doc2, exact Jaccard >=
    * [[JaccardThreshold]]) — the shared core of d2 and d6, materialized
    * so the cluster-assignment query consumes d2's pair table instead
    * of re-deriving the whole minhash chain. The band explode and the
    * estimate joins touch only the slim signature frame; shingle
    * arrays join in solely for the final exact verify. */
  /** Hot-bucket-capped LSH band index `(doc_id, bk)` — materialized as
    * its own stage because it is the persisted artifact a production
    * pipeline keeps: the all-pairs build ([[minhashPairs]]) and the
    * incremental delta-vs-index join (d14) both consume it. The
    * hot-bucket guard counts each band bucket map-side-combined (never
    * materializing a bucket's rows in one task) and broadcast
    * anti-joins the tiny over-cap key set away. */
  def cappedBanded(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d2-banded|$dir") {
      // band keys persist as BINARY(16) — the md5 digest bytes, not its
      // 32-char hex rendering. unhex is bijective on md5 hex, so bucket
      // membership (and the hot-bucket cap) is bit-identical to the
      // string form the DuckDB twin computes; the index — the artifact
      // d14/st8 probe per ingest — just stores and shuffles half the
      // key bytes. Probe sides that compute fresh keys unhex after
      // their explode (st8Stream).
      val banded = signatures(s, dir)
        .select(col("doc_id"),
          explode(Text.bandKeys(col("mh"), Bands, Rows)).as("bk0"))
        .select(col("doc_id"), unhex(col("bk0")).as("bk"))
      val hot = banded.groupBy(col("bk"))
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > MaxBucket)
        .select(col("bk"))
      banded.join(broadcast(hot), Seq("bk"), "left_anti")
    }

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d2-pairs|$dir") {
      val mins = signatures(s, dir)
      val pairs = candidatePairs(cappedBanded(s, dir))
      // cheap signature-estimate pre-filter before the exact verify:
      // matching-minhash share estimates Jaccard (sd ~= 0.06 at k=64),
      // so est >= threshold - EstMargin keeps all true positives while
      // dropping the random-collision bulk of candidates.
      // Below [[D2EstBroadcastMaxDocBytes]] the slim signature frame is
      // broadcast (the d5 rerank gate's idiom, §3.1): both est lookups
      // become hash joins fed map-side from the band self-join, so the
      // candidate pair stream — the channel's widest flow once mh1
      // rides along — is never shuffled. Above the gate the planner's
      // sort-merge stands. Strategy-only, results unchanged.
      val estMins =
        if (Tables.fileBytes(dir, "documents") < D2EstBroadcastMaxDocBytes)
          broadcast(mins)
        else mins
      val est = pairs
        .join(estMins.select(col("doc_id").as("doc1"), col("mh").as("mh1")), "doc1")
        .join(estMins.select(col("doc_id").as("doc2"), col("mh").as("mh2")), "doc2")
        // native codegen'd match count — the HOF fold it replaces
        // (aggregate over zip_with) ran 2·k interpreted lambda hops
        // per CANDIDATE pair; values identical (same count, same
        // cast/divide — see MinHashMatchCount)
        .withColumn("est",
          graft.functions.MinHashMatchCount
            .matchCount(col("mh1"), col("mh2")).cast("double") / MinhashK)
        .filter(col("est") >= JaccardThreshold - EstMargin)
        .select(col("doc1"), col("doc2"))
      // exact verify over 60-bit shingle fingerprints (d18's idiom,
      // r16): the two joins ship fixed-width longs instead of gram
      // string arrays, intersect probes hash longs instead of strings,
      // and the union size is ARITHMETIC (|A|+|B|-inter over the
      // distinct-shingle counts) instead of an array_union hash set
      // per pair — measured at sf10 as the channel's dominant stage
      // (42.4 s of 89.6, d2_profile). sh is array_distinct'd, so
      // n = |A| exactly; distinct grams keep distinct fps up to a
      // 2^-60 truncated-md5 collision, making inter and union the
      // SAME integers as the gram-set form and the quotient the same
      // double bit-for-bit. The DuckDB twin still verifies over RAW
      // gram lists — deliberately NOT mirrored (the r15 lockstep-twin
      // lesson): the oracle independently checks the fingerprint
      // rewrite, and FingerprintEquivalenceSpec pins the primitive.
      val slim = shingleFps(shingled(s, dir))
      val withSets = est
        .join(slim.select(col("doc_id").as("doc1"),
          col("n").as("n1"), col("fp").as("fp1")), "doc1")
        .join(slim.select(col("doc_id").as("doc2"),
          col("n").as("n2"), col("fp").as("fp2")), "doc2")
      withSets
        .withColumn("inter",
          size(array_intersect(col("fp1"), col("fp2"))).cast("long"))
        .withColumn("jac", col("inter").cast("double") /
          nullif((col("n1") + col("n2") - col("inter")).cast("double"),
            lit(0.0)))
        .filter(col("jac") >= JaccardThreshold)
        .select(col("doc1"), col("doc2"), round(col("jac"), 6).as("jaccard"))
    }

  /** The dedup cluster assignment over the d2 verified pair table,
    * materialized once per data dir like the pair table itself: d6
    * (cluster report), d8 (leakage-safe split) and d13/e7 (quality
    * canonical) all consume the SAME components, and before this helper
    * each consumer re-ran the full connectedComponents computation —
    * three identical cluster builds per bench pass. A production
    * pipeline checkpoints the cluster assignment exactly once next to
    * the pair table (the Materialize contract documented there). */
  def minhashComponents(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d2-components|$dir") {
      val docs = Tables.table(s, dir, "documents").select(col("doc_id"))
      connectedComponents(docs, minhashPairs(s, dir))
    }

  /** d14's engine: delta-vs-index incremental dedup (see the d14
    * QueryDef comment for the channel's scale story).
    *
    * Join-side slice predicates: pairs carry delta ids in doc_id and
    * index ids in old_doc BY CONSTRUCTION (the band join's two sides).
    * The explicit doc_id % DeltaMod filters on the signature/shingle
    * join sides are the predicates Catalyst's constraint propagation
    * ALSO infers through the equi-joins (verified in the committed
    * plans: the before-plan already slices every scan) — they are kept
    * explicit because an optimizer-derived filter is one rewrite away
    * from disappearing while a written one is not.
    *
    * No hand-built Bloom prefilter on the join sides: a size-gated
    * branch that built two Bloom filters over the persisted pair
    * stream lost to this plain plan under Spark's defaults (AQE and
    * runtime filters on) in a same-window A/B (4 cores, alternating
    * pairs in one JVM, upstream checkpoints warm): sf1 Bloom 12.25 s
    * [IQR 11.95-12.88] vs plain 10.46 s [10.05-10.70], plain faster in
    * 6 of 6; sf10 Bloom 30.79 s [27.00-34.65] vs plain 26.24 s
    * [24.49-28.19], plain faster in 5 of 5. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val mins = signatures(s, dir)
    val capped = cappedBanded(s, dir)
    val isDelta = col("doc_id") % DeltaMod === 0
    // at production scale `index` is the persisted banded table;
    // only the delta side is computed per ingest
    val index = capped.filter(!isDelta)
    val delta = capped.filter(isDelta)
    val pairs = delta.as("d")
      .join(index.as("o"), col("d.bk") === col("o.bk"))
      .select(col("d.doc_id").as("doc_id"),
        col("o.doc_id").as("old_doc"))
      .distinct()
    val est = pairs
      .join(mins.filter(isDelta)
        .select(col("doc_id"), col("mh").as("mh1")), "doc_id")
      .join(mins.filter(!isDelta)
        .select(col("doc_id").as("old_doc"),
          col("mh").as("mh2")), "old_doc")
      // native match count (d2's est idiom — see MinHashMatchCount)
      .withColumn("est",
        graft.functions.MinHashMatchCount
          .matchCount(col("mh1"), col("mh2")).cast("double") / MinhashK)
      .filter(col("est") >= JaccardThreshold - EstMargin)
      .select(col("doc_id"), col("old_doc"))
    // fingerprint verify (minhashPairs' r16 idiom — see the comment
    // there): longs shipped instead of gram strings, arithmetic union;
    // same integers, same quotient double, twin left on raw grams
    val slim = shingleFps(shingled(s, dir))
    val verified = est
      .join(slim.filter(isDelta)
        .select(col("doc_id"), col("n").as("n1"), col("fp").as("fp1")),
        "doc_id")
      .join(slim.filter(!isDelta)
        .select(col("doc_id").as("old_doc"),
          col("n").as("n2"), col("fp").as("fp2")), "old_doc")
      .withColumn("inter",
        size(array_intersect(col("fp1"), col("fp2"))).cast("long"))
      .withColumn("jac", col("inter").cast("double") /
        nullif((col("n1") + col("n2") - col("inter")).cast("double"),
          lit(0.0)))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("doc_id"), col("old_doc"),
        round(col("jac"), 6).as("jaccard"))
    // ONE window pass yields both the best match and the match
    // count: the old `best` + `counts` pair each re-derived the
    // whole pairs->est->verify subtree (every upstream join ran
    // twice), while row_number and the per-partition count share a
    // single doc_id shuffle — identical values by definition
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("old_doc"))
    val summary = verified
      .withColumn("rn", row_number().over(w))
      .withColumn("n_index_matches",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_index_matches"),
        col("old_doc").as("nearest_old_doc"),
        col("jaccard").as("max_jaccard"))
    Tables.table(s, dir, "documents").filter(isDelta)
      .select(col("doc_id"))
      .join(summary, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_index_matches"), lit(0L)).as("n_index_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        coalesce(col("nearest_old_doc"), lit(-1L)).as("nearest_old_doc"),
        (coalesce(col("n_index_matches"), lit(0L)) === 0).cast("long")
          .as("is_novel"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — the standard O(log² n)-round algorithm, vs the
    * O(diameter) rounds of naive min-label propagation, so a chain-shaped
    * component of any length converges in a handful of rounds):
    *
    *  - large-star: every node connects each strictly-larger neighbour
    *    to the minimum of its closed neighbourhood;
    *  - small-star: every node connects its smaller neighbours (and
    *    itself) to the minimum of those.
    *
    * Each half-round is one map-side-combined groupBy + join; lineage is
    * cut per round with localCheckpoint. At the fixpoint the edge set is
    * a star per component centred on the component-min id. Throws if the
    * fixpoint is not reached within `maxRounds` (cannot happen below
    * 2^maxRounds nodes) rather than silently returning split clusters.
    * Returns (doc_id, cluster_id = component-min doc id).
    *
    * Below `driverMaxEdges` deduplicated edges the components are
    * instead computed by ONE driver-side union-find pass over the
    * collected edge list: the distributed loop costs O(rounds) shuffle
    * jobs plus a checksum action and a lineage checkpoint per round
    * (the measurements are on [[CcDriverMaxEdges]]), while 2M
    * (long, long) edges are ~32 MB on the driver and union-find labels
    * them in milliseconds. The gate input (the edge count) is already
    * computed for the convergence checksum, so the decision costs
    * nothing (DedupSpec's CC forced-branch test pins driver/loop
    * equality on the same graph). */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30,
      driverMaxEdges: Long = CcDriverMaxEdges): DataFrame = {
    var edges = pairs
      .select(least(col("doc1"), col("doc2")).as("a"),
        greatest(col("doc1"), col("doc2")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    // order-independent edge-set fingerprint; bit_xor (not sum) so the
    // aggregation can't overflow under ANSI mode
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var chk = checksum(edges)
    if (chk._1 > 0L && chk._1 <= driverMaxEdges) {
      val spark = docs.sparkSession
      import spark.implicits._
      // min-id-rooted union-find: roots are component minima because
      // union always attaches the larger root under the smaller one
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      // materialize keys BEFORE the find() sweep: compression mutates
      // values in place and LongMap iteration is not mutation-safe
      val comp = parent.keys.toArray.map(k => (k, find(k))).sorted.toSeq
        .toDF("node", "mn")
      return docs.join(broadcast(comp),
          docs("doc_id") === comp("node"), "left")
        .select(docs("doc_id"),
          coalesce(col("mn"), docs("doc_id")).as("cluster_id"))
    }
    var round = 0
    var converged = chk._1 == 0L
    while (!converged && round < maxRounds) {
      // large-star: u's larger neighbours -> min of u's closed nbhd
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val lMins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = sym.join(lMins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      // small-star on (lo=a, hi=b) edges: hi's smaller neighbours and
      // hi itself -> min of those neighbours
      val sMins = large.groupBy(col("b")).agg(min(col("a")).as("m"))
      val small = large.join(sMins, "b")
        .select(col("m"), col("a").as("p"))
        .unionByName(sMins.select(col("m"), col("b").as("p")))
        .filter(col("m") =!= col("p"))
        .select(col("m").as("a"), col("p").as("b"))
        .distinct()
        .localCheckpoint(true)
      val nextChk = checksum(small)
      converged = nextChk == chk
      chk = nextChk
      edges = small
      round += 1
    }
    if (!converged && chk._1 > 0L)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds")
    // fixpoint edges form stars centred on the component min
    val sym = edges.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(edges.select(col("b").as("node"), col("a").as("nbr")))
    val comp = sym.groupBy(col("node")).agg(min(col("nbr")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("cluster_id"))
    docs.join(comp, docs("doc_id") === comp("node"), "left")
      .select(docs("doc_id"),
        coalesce(col("cluster_id"), docs("doc_id")).as("cluster_id"))
  }

  /** DuckDB CTE chain producing `verified(doc1, doc2, jaccard)` — the
    * oracle twin of [[minhashPairs]], shared by d2/d6/d8/d12/d13 and
    * (for its `banded` prefix) streaming st7. */
  // base/sigs/verified are AS MATERIALIZED: each is referenced more
  // than once downstream (est joins sigs twice; sym reads verified
  // twice; verified joins base twice) and DuckDB inlines plain CTEs,
  // re-executing the whole minhash build per reference — the r14 sf1
  // leg measured d13's twin at 60+ CPU-minutes unfinished inlined vs
  // 381 s materialized. Semantics identical (the hint only forces one
  // evaluation); sf0.01 driver runs are unaffected.
  private[graft] def d2CoreSql: String = s"""docs AS (
        SELECT doc_id, ${shinglesSqlDuck(2)} AS sh FROM documents
      ), base AS MATERIALIZED (
        SELECT doc_id, sh FROM docs WHERE len(sh) > 0
      ), hashed AS (
        SELECT doc_id, sh,
          list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS base
        FROM base
      ), sigs AS MATERIALIZED (
        SELECT doc_id, sh,
          list_transform(range(1, ${MinhashK + 1}),
            i -> list_min(list_transform(base,
              h -> (((i * 40503 + 12345) % 2147483646 + 1) * h + (i * 69069 + 7) % 2147483647) % 2147483647))) AS mh
        FROM hashed
      ), banded AS (
        SELECT doc_id, unnest(list_transform(range(0, $Bands),
          b -> md5(CAST(b AS VARCHAR) || '|' || CAST(mh[b*$Rows+1] AS VARCHAR) || '|' || CAST(mh[b*$Rows+2] AS VARCHAR)))) AS bk
        FROM sigs
      ), capped AS (
        SELECT * FROM (
          SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz FROM banded
        ) WHERE bsz <= $MaxBucket
      ), pairs AS (
        SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
        FROM capped x JOIN capped y ON x.bk = y.bk AND x.doc_id < y.doc_id
      ), est AS (
        SELECT doc1, doc2
        FROM pairs JOIN sigs sa ON pairs.doc1 = sa.doc_id
                   JOIN sigs sb ON pairs.doc2 = sb.doc_id
        WHERE CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
                i -> CASE WHEN sa.mh[i] = sb.mh[i] THEN 1 ELSE 0 END)) AS DOUBLE)
              / $MinhashK >= $JaccardThreshold - $EstMargin
      ), verified AS MATERIALIZED (
        SELECT doc1, doc2,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        FROM est JOIN base a ON est.doc1 = a.doc_id
                 JOIN base b ON est.doc2 = b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(a.sh || b.sh)) >= $JaccardThreshold
      )"""

  /** DuckDB twin of [[containmentCandidates]]: the bottom-k keys,
    * their hot-key cap, and the two-channel union `cpairs` — appended
    * after [[d2CoreSql]] (consumes its `base` and `capped`). Shared by
    * d18's oracle and d22's audit twin. */
  private[graft] def containSqlCtes: String = s"""cfp AS (
        -- the engine's verify intersects 60-bit shingle fingerprints
        -- (the signature chain's exact hash); mirror it bit-for-bit
        SELECT doc_id, len(sh) AS n,
          list_transform(sh,
            s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS fp
        FROM base
      ), bkeys AS (
        SELECT doc_id, unnest(list_sort(list_distinct(
          list_transform(sh, s -> md5(s))))[1:$ContainBottomK]) AS fp
        FROM base
      ), bcapped AS (
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS fsz
          FROM bkeys
        ) WHERE fsz <= $MaxBucket
      ), cpairs AS (
        SELECT DISTINCT doc1, doc2 FROM (
          SELECT x.doc_id AS doc1, y.doc_id AS doc2
          FROM capped x JOIN capped y
            ON x.bk = y.bk AND x.doc_id < y.doc_id
          UNION ALL
          SELECT x.doc_id AS doc1, y.doc_id AS doc2
          FROM bcapped x JOIN bcapped y
            ON x.fp = y.fp AND x.doc_id < y.doc_id
        )
      )"""

  /** d7: word n-gram size for benchmark decontamination. */
  val DecontamN = 5

  /** Materialized (doc_id, distinct word-[[DecontamN]]-gram array)
    * checkpoint — the shared input of the decontamination family (d7
    * exact, d15 bloom, e1's pipeline stage 3). Besides the usual
    * compute-once sharing ([[shingled]]'s rationale), materializing
    * matters for PLAN quality here: an inline shingle expression gets
    * CollapseProject-inlined into d15's bloom Filter AND its confirm
    * Generate, re-tokenizing every doc 3-4x per row (HOFs defeat both
    * CSE and codegen — the d5/st7 lesson); scanning the checkpoint
    * makes `sh` a plain attribute, computed exactly once per doc. */
  def decontamShingled(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"decontam-shingles|$dir") {
      Tables.rebalance(Tables.table(s, dir, "documents"))
        // words aliased BEFORE the shingle HOF: an inline words(text)
        // referenced by the transform lambda re-runs the regexp per
        // element (the LshBandKeys lesson; measured 3.3x on d19)
        //
        // `source` rides along (r16): d19's overlap matrix consumes
        // the SAME DecontamN-shingle extraction and used to re-run
        // the whole tokenize+shingle pass per bench run just to pair
        // shingles with sources. Carrying the one extra slim column
        // here lets d19 scan this checkpoint instead (column pruning
        // drops it for d7/d15/e1, whose plans are unchanged).
        .select(col("doc_id"), coalesce(col("source"), lit(""))
          .as("source"), Text.words(col("text")).as("w"))
        .select(col("doc_id"), col("source"),
          Text.wordShingles(col("w"), DecontamN).as("sh"))
    }
  /** d7: the held-out "benchmark" subset — every 50th doc id. */
  val DecontamEvalMod = 50

  /** Materialized DISTINCT eval n-gram set `(g)` — the persisted
    * artifact every decontamination consumer (d7, d15, e1's stage 3,
    * e2's card) probes against. Materializing it (rather than
    * re-deriving the explode+distinct per consumer) makes
    * [[EvalGrams]]' size gate a parquet-metadata count and the bloom
    * path's confirm join a parquet scan — the production posture,
    * where the eval suite's gram set is built once beside the suite. */
  def evalGramSet(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"decontam-evalgrams|$dir") {
      decontamShingled(s, dir)
        .filter(col("doc_id") % DecontamEvalMod === 0)
        .select(explode(col("sh")).as("g"))
        .distinct()
    }
  /** d14: the incoming "delta batch" — every 4th doc id (~25% of the
    * corpus plays the new-ingest side, the rest is the persisted index). */
  val DeltaMod = 4

  /** d21: the fixed recall-audit slice WIDTH — exact all-pairs ground
    * truth runs only over the first this-many doc ids ABOVE the
    * corpus's min(doc_id), so the quadratic stays a ~125k-pair probe
    * at any corpus size and the audit still lands on real docs when
    * ids are not dense from 0 (an absolute `< 500` bound on such a
    * corpus yields n_truth = 0 — a vacuous report that reads like
    * perfect recall). A report row with n_truth = 0 still means "the
    * audit found no qualifying pairs", not "recall is perfect" —
    * recall_micro is NULL there by construction. */
  val LshEvalMaxId = 500L

  /** d13's quality-aware canonical choice — THE one definition of
    * which near-dup cluster member ships: d6's connected components
    * over the shared pair table, ranked inside each cluster by t2's
    * shared quality score (doc_id tiebreak), rn 1 kept. e7's
    * effective-token accounting consumes the same frame, so "kept"
    * can never mean two things (the recallReport/recallSql pattern). */
  def qualityCanonical(s: SparkSession, dir: String): DataFrame = {
    val comp = minhashComponents(s, dir)
    val q = graft.text.TextQueries.qualityFrame(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    comp.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("is_kept", (col("rn") === 1).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("is_kept"))
  }

  /** [[qualityCanonical]]'s DuckDB twin: CTE chain producing
    * `ranked(doc_id, cluster_id, quality_score, rn)` — must follow
    * [[d2CoreSql]] under WITH RECURSIVE. Shared by d13 and e7. */
  private[graft] def ccRankedSqlCtes: String =
    s"""nodes AS (SELECT doc_id FROM documents),
      sym AS (
        SELECT doc1 AS a, doc2 AS b FROM verified
        UNION ALL SELECT doc2, doc1 FROM verified
      ),
      walk(doc, comp) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        -- descending-labels prune (r14 sf1-tractability): the component
        -- minimum m reaches every node through intermediates all > m,
        -- so (node, m) is still generated and min-per-node is unchanged
        SELECT s.b, w.comp FROM walk w JOIN sym s
          ON s.a = w.doc AND w.comp < s.b
      ),
      cc AS (SELECT doc, min(comp) AS cluster_id FROM walk GROUP BY doc),
      ${graft.text.TextQueries.qualitySqlCte},
      ranked AS (
        SELECT cc.doc AS doc_id, cc.cluster_id, q.quality_score,
          row_number() OVER (PARTITION BY cc.cluster_id
            ORDER BY q.quality_score DESC, cc.doc) AS rn
        FROM cc JOIN q ON cc.doc = q.doc_id
      )"""

  /** d17's report over any `(doc_id, sh)` shingled frame plus the
    * distinct eval-gram set — parameterized (e3/st10's pattern) so the
    * property battery can drive it with random corpora against a
    * brute-force Set model, while the QueryDef applies it to the
    * shared materialized artifacts. Eval docs are the
    * [[DecontamEvalMod]] subset of `shingled` itself. */
  private[graft] def contaminationReport(shingled: DataFrame,
      evalG: DataFrame): DataFrame = {
    val isEval = col("doc_id") % DecontamEvalMod === 0
    val nEval = evalG.count()
    val bloom = EvalGrams.bloomOf(evalG, nEval)
    // distinct eval grams that occur anywhere in train (≤ |evalG|):
    // row-local bloom prefilter, only hit docs explode, exact confirm
    // (deliberately not broadcast-hinted — EvalGrams.bloomCounts'
    // rationale), distinct bounded by the eval suite's gram count
    val sharedG = shingled.filter(!isEval)
      .withColumn("bh",
        graft.functions.BloomMemberCount.countIn(col("sh"), bloom))
      .filter(col("bh") > 0L)
      .select(explode(col("sh")).as("g"))
      .join(evalG, "g")
      .distinct()
    val perDoc = shingled.filter(isEval)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(sharedG, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    shingled.filter(isEval)
      .select(col("doc_id"),
        when(col("sh").isNull, lit(0L))
          .otherwise(size(col("sh")).cast("long")).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n"), lit(0L)).as("n_shared"),
        expr("""CAST(coalesce(n, 0) * 1000000
          div nullif(n_grams, 0) AS BIGINT)""").as("overlap_micro"),
        (coalesce(col("n"), lit(0L)) > 0L).cast("long")
          .as("contaminated_eval"))
      .orderBy(col("doc_id"))
  }

  private val otherDefs: Map[String, QueryDef] = Map(

    // ---- d11: semantic dedup (SemDeDup, Abbas et al. 2023,
    //      arXiv:2303.09540): cluster the embedding corpus, then prune
    //      semantically-redundant vectors inside each cluster. This is
    //      the linear-time variant: instead of the paper's within-cluster
    //      pairwise similarity matrix (quadratic in cluster size — the
    //      same hazard d4/d5 cap away), redundancy is measured as
    //      cosine-to-centroid: vectors in the cluster's core
    //      (cos >= [[SemDedupTau]]) are mutual semantic duplicates by
    //      transitivity through the centroid, and only the core's
    //      single representative (highest cosine, vec_id tiebreak) is
    //      kept; peripheral vectors all survive. Reuses s4's
    //      integer-exact Lloyd k-means (one shared index build across
    //      s4/s5/s7/d11, as a production pipeline shares one
    //      clustering), so everything through the keep flag is
    //      bit-reproducible: integer dot/norm sums off the same melt,
    //      one broadcast join + map-side-combined agg, a per-cluster
    //      window over #vectors rows — no pair join anywhere, O(n)
    //      at any corpus size.
    "d11_semantic_dedup" -> QueryDef(
      (s, dir) => {
        import graft.sim.SimilarityQueries
        val m = SimilarityQueries.kmeansMelt(s, dir)
        val cents = SimilarityQueries.kmeansCentroids(s, dir)
        val cells = SimilarityQueries.assignToCentroids(m, cents)
          .select(col("vec_id"), col("k"))
        val sums = m.join(cells, "vec_id")
          .join(broadcast(cents), Seq("k", "d"))
          .groupBy(col("vec_id"), col("k"))
          .agg(sum(col("x6") * col("c6")).as("sxc"),
            sum(col("x6") * col("x6")).as("sxx"),
            sum(col("c6") * col("c6")).as("scc"))
        val scored = sums.withColumn("cosr",
          col("sxc").cast("double") /
            (sqrt(col("sxx").cast("double")) *
              sqrt(col("scc").cast("double"))))
        val w = Window.partitionBy(col("k"))
          .orderBy(col("cosr").desc, col("vec_id"))
        scored
          .withColumn("rn", row_number().over(w))
          .withColumn("cos_centroid",
            floor(col("cosr") * 1e6 + lit(0.5)) / 1e6)
          .withColumn("keep",
            (col("rn") === 1 || col("cos_centroid") < SemDedupTau)
              .cast("long"))
          .select(col("vec_id"), col("k").as("cluster"),
            col("cos_centroid"), col("keep"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH ${graft.sim.SimilarityQueries.kmeansCtes}, cells AS (
        SELECT vec_id, k FROM (
          SELECT vec_id, k,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
          FROM fin) WHERE rn = 1
      ), sums AS (
        SELECT m.vec_id, cl.k,
          CAST(sum(m.x6 * c.x6) AS BIGINT) AS sxc,
          CAST(sum(m.x6 * m.x6) AS BIGINT) AS sxx,
          CAST(sum(c.x6 * c.x6) AS BIGINT) AS scc
        FROM m JOIN cells cl USING (vec_id)
        JOIN c${graft.sim.SimilarityQueries.KmeansIters} c
          ON c.k = cl.k AND c.d = m.d
        GROUP BY 1, 2
      ), scored AS (
        SELECT vec_id, k,
          CAST(sxc AS DOUBLE) /
            (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE))) AS cosr
        FROM sums
      ), ranked AS (
        SELECT vec_id, k, cosr,
          row_number() OVER (PARTITION BY k
            ORDER BY cosr DESC, vec_id) AS rn
        FROM scored
      )
      SELECT vec_id, k AS cluster,
        floor(cosr * 1e6 + 0.5) / 1e6 AS cos_centroid,
        CAST(rn = 1 OR floor(cosr * 1e6 + 0.5) / 1e6 < $SemDedupTau
          AS BIGINT) AS keep
      FROM ranked ORDER BY vec_id""")),

    // ---- d7: benchmark decontamination — flag training documents that
    //      share any word n-gram with a held-out eval set (the standard
    //      pre-training hygiene pass: eval suites are small, so their
    //      n-gram set broadcasts, and the corpus-side scan is one
    //      explode + key-equality join — no corpus self-join, O(corpus
    //      n-grams) work at any scale). The "benchmark" here is the
    //      deterministic every-50th-doc subset of the corpus itself.
    //      The probe is [[EvalGrams]]-gated: below the gate the exact
    //      gram broadcast above; past it (a rehearsal's synthetic
    //      corpus-proportional eval subset) the same EXACT result via
    //      d15's bloom-prefilter + confirm-join plan — no executor
    //      ever holds a corpus-proportional exact-string set.
    "d7_decontamination" -> QueryDef(
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val isEval = col("doc_id") % DecontamEvalMod === 0
        val shared = EvalGrams.sharedCounts(
          decontamShingled(s, dir).filter(!isEval), evalGramSet(s, dir))
        docs.filter(!isEval)
          .join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n"), lit(0L)).as("n_shared_ngrams"),
            (coalesce(col("n"), lit(0L)) > 0L).cast("long").as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH g AS (
        SELECT doc_id, unnest(${shinglesSqlDuck(DecontamN)}) AS g
        FROM documents
      ), e AS (
        SELECT DISTINCT g FROM g WHERE doc_id % $DecontamEvalMod = 0
      ), c AS (
        SELECT g.doc_id, count(*) AS n
        FROM g JOIN e USING (g) WHERE g.doc_id % $DecontamEvalMod <> 0
        GROUP BY 1
      )
      SELECT d.doc_id, coalesce(n, 0) AS n_shared_ngrams,
        CAST(coalesce(n, 0) > 0 AS BIGINT) AS contaminated
      FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
      WHERE d.doc_id % $DecontamEvalMod <> 0
      ORDER BY d.doc_id""")),

    // ---- d12: FUZZY benchmark decontamination — d7's exact n-gram
    //      overlap misses paraphrased eval leakage (reworded questions,
    //      light edits); d12 flags training docs that are MINHASH-NEAR
    //      an eval doc. It consumes the same materialized verified pair
    //      table d6/d8 consume (one LSH build shared by every
    //      pair-graph consumer — the production shape: dedup and
    //      decontamination are passes over one signature index, not two
    //      index builds), keeping only pairs that cross the train/eval
    //      boundary (the same every-[[DecontamEvalMod]]th-doc eval set
    //      as d7, so d7+d12 are the exact+fuzzy halves of one hygiene
    //      pass). Match threshold = [[JaccardThreshold]] (the pair
    //      table's floor). Per-train-doc report: match count, closest
    //      eval doc, max Jaccard. No new shuffle beyond one window +
    //      one groupBy over the (tiny) mixed-pair set.
    "d12_fuzzy_decontamination" -> QueryDef(
      (s, dir) => {
        val isEval1 = col("doc1") % DecontamEvalMod === 0
        val isEval2 = col("doc2") % DecontamEvalMod === 0
        val mixed = minhashPairs(s, dir)
          .filter(isEval1 =!= isEval2)
          .select(
            when(isEval1, col("doc2")).otherwise(col("doc1")).as("doc_id"),
            when(isEval1, col("doc1")).otherwise(col("doc2")).as("eval_doc"),
            col("jaccard"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("jaccard").desc, col("eval_doc"))
        val best = mixed.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("eval_doc").as("closest_eval_doc"),
            col("jaccard").as("max_jaccard"))
        val counts = mixed.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fuzzy_matches"))
        Tables.table(s, dir, "documents")
          .filter(col("doc_id") % DecontamEvalMod =!= 0)
          .select(col("doc_id"))
          .join(counts, Seq("doc_id"), "left")
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_fuzzy_matches"), lit(0L)).as("n_fuzzy_matches"),
            coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
            coalesce(col("closest_eval_doc"), lit(-1L)).as("closest_eval_doc"),
            (coalesce(col("n_fuzzy_matches"), lit(0L)) > 0).cast("long")
              .as("contaminated_fuzzy"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $d2CoreSql, mixed AS (
        SELECT
          CASE WHEN doc1 % $DecontamEvalMod = 0 THEN doc2 ELSE doc1 END AS doc_id,
          CASE WHEN doc1 % $DecontamEvalMod = 0 THEN doc1 ELSE doc2 END AS eval_doc,
          jaccard
        FROM verified
        WHERE (doc1 % $DecontamEvalMod = 0) <> (doc2 % $DecontamEvalMod = 0)
      ), best AS (
        SELECT doc_id, eval_doc, jaccard FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, eval_doc) AS rn FROM mixed)
        WHERE rn = 1
      ), cnt AS (
        SELECT doc_id, count(*) AS n FROM mixed GROUP BY 1
      )
      SELECT d.doc_id,
        coalesce(cnt.n, 0) AS n_fuzzy_matches,
        coalesce(best.jaccard, 0.0) AS max_jaccard,
        coalesce(best.eval_doc, -1) AS closest_eval_doc,
        CAST(coalesce(cnt.n, 0) > 0 AS BIGINT) AS contaminated_fuzzy
      FROM documents d
      LEFT JOIN cnt ON d.doc_id = cnt.doc_id
      LEFT JOIN best ON d.doc_id = best.doc_id
      WHERE d.doc_id % $DecontamEvalMod <> 0
      ORDER BY d.doc_id""")),

    // ---- d13: quality-aware cluster canonicalization — what a pipeline
    //      actually SHIPS from dedup: d6 assigns near-dup clusters, d13
    //      picks each cluster's surviving representative. Canonical-by-
    //      min-id (d6's flag) keeps an arbitrary member; d13 keeps the
    //      HIGHEST-QUALITY member (t2's quality score via
    //      [[graft.text.TextQueries.qualityFrame]] — the shared scorer,
    //      so "best" means the same thing in both operators), doc_id
    //      tiebreak. Singleton clusters keep their only doc, so
    //      sum(is_kept) = #clusters and dropping is_kept=0 rows is the
    //      dedup. Cost on top of the shared pair table: the row-wise
    //      quality projection + one join + one per-cluster window over
    //      slim rows — cluster sizes are near-dup cluster sizes (small
    //      by construction; the giant-component pathology is d2's
    //      MaxBucket guard's job), so the window partition is bounded.
    "d13_cluster_canonical" -> QueryDef(
      (s, dir) => qualityCanonical(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $d2CoreSql,
      $ccRankedSqlCtes
      SELECT doc_id, cluster_id, quality_score,
        CAST(rn = 1 AS BIGINT) AS is_kept
      FROM ranked ORDER BY doc_id""")),

    // ---- d14: incremental (delta-vs-index) dedup — the daily-ingest
    //      shape. Every other dedup query pairs the corpus against
    //      itself; at 100 TB you do that ONCE, persist the band-key
    //      index, and then dedup each incoming delta batch against the
    //      index: pair generation here joins only delta.bk = index.bk,
    //      so its cost is O(|delta| x collision rate), independent of
    //      corpus pair count — old x old pairs are never generated
    //      (contrast d12, which consumes the full retrospective pair
    //      table). The index side IS the materialized [[cappedBanded]]
    //      band-index stage d2's pair build also consumes — the
    //      persisted artifact of the production story — including its
    //      MaxBucket hot-bucket guard (bucket size counted over ALL
    //      docs, exactly d2's `capped` semantics, so the DuckDB
    //      twin shares d2CoreSql's chain verbatim); the estimate
    //      pre-filter and exact-Jaccard verify are d2's, restricted to
    //      cross pairs. Within-batch delta x delta dups are deliberately
    //      out of scope (that is d1/d2's job on the batch itself).
    //      Output: one row per delta doc — match count against the
    //      index, best match, and the is_novel admission flag.
    "d14_incremental_dedup" -> QueryDef(
      (s, dir) => incrementalDedup(s, dir),
      // cross pairs are a subset of d2's verified all-pairs set, so the
      // twin filters the shared chain to exactly-one-side-delta pairs —
      // the same equivalence d12 uses for its train/eval split
      Some(s"""WITH $d2CoreSql, cross_m AS (
        SELECT
          CASE WHEN doc1 % $DeltaMod = 0 THEN doc1 ELSE doc2 END AS doc_id,
          CASE WHEN doc1 % $DeltaMod = 0 THEN doc2 ELSE doc1 END AS old_doc,
          jaccard
        FROM verified
        WHERE (doc1 % $DeltaMod = 0) <> (doc2 % $DeltaMod = 0)
      ), best AS (
        SELECT doc_id, old_doc, jaccard FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, old_doc) AS rn FROM cross_m)
        WHERE rn = 1
      ), cnt AS (
        SELECT doc_id, count(*) AS n FROM cross_m GROUP BY 1
      )
      SELECT d.doc_id,
        coalesce(cnt.n, 0) AS n_index_matches,
        coalesce(best.jaccard, 0.0) AS max_jaccard,
        coalesce(best.old_doc, -1) AS nearest_old_doc,
        CAST(coalesce(cnt.n, 0) = 0 AS BIGINT) AS is_novel
      FROM documents d
      LEFT JOIN cnt ON d.doc_id = cnt.doc_id
      LEFT JOIN best ON d.doc_id = best.doc_id
      WHERE d.doc_id % $DeltaMod = 0
      ORDER BY d.doc_id""")),


    // ---- d3: 32-bit SimHash signatures + hamming-LSH chunk keys
    "d3_simhash" -> QueryDef(
      (s, dir) => {
        val ex = Tables.table(s, dir, "documents")
          .select(col("doc_id"), explode(Text.words(col("text"))).as("word"))
          .withColumn("h", Text.hash32(col("word")))
        val bitExprs = (0 until 32).map(b =>
          sum(expr(s"(shiftright(h, $b) & 1) * 2 - 1").cast("long")).as(s"b$b"))
        val bitSums = ex.groupBy(col("doc_id"))
          .agg(bitExprs.head, bitExprs.tail: _*)
        val simhash = (0 until 32)
          .map(b => when(col(s"b$b") >= 0, 1L << b).otherwise(0L))
          .reduce(_ + _)
        bitSums.withColumn("simhash", simhash)
          .select(col("doc_id") +: col("simhash") +:
            (0 until 4).map(c =>
              expr(s"shiftright(simhash, ${8 * c}) & 255").cast("long")
                .as(s"chunk$c")): _*)
          .orderBy(col("doc_id"))
      },
      Some {
        val bitSumsSql = (0 until 32)
          .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS b$b").mkString(",\n          ")
        val simhashSql = (0 until 32)
          .map(b => s"CASE WHEN b$b >= 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        val chunksSql = (0 until 4)
          .map(c => s"CAST((simhash >> ${8 * c}) & 255 AS BIGINT) AS chunk$c")
          .mkString(", ")
        s"""WITH ex AS (
          SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest($wordsSqlDuck) AS w FROM documents)
        ), bits AS (
          SELECT doc_id,
          $bitSumsSql
          FROM ex GROUP BY doc_id
        ), sh AS (
          SELECT doc_id, $simhashSql AS simhash FROM bits
        )
        SELECT doc_id, simhash, $chunksSql FROM sh ORDER BY doc_id"""
      }),

    // ---- d4: char 4-gram Jaccard on blocked candidates (same source,
    //      similar length). The length tolerance is part of the JOIN KEY:
    //      each left row probes its own length bucket plus the two
    //      adjacent ones (bucket width = tolerance, so |diff| <= 20
    //      implies the buckets are adjacent), making candidate generation
    //      a key-equality join on (source, bucket) — within a source the
    //      work is O(sum of bucket^2), never all-pairs. Blocks over
    //      [[D4MaxBlock]] docs are dropped from BOTH join sides (counted
    //      on a slim shingle-free frame, map-side combined, broadcast
    //      anti-joined), so no single hot (source, length-band) block can
    //      reintroduce an unbounded quadratic at 100 TB.
    "d4_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        val slim = Tables.table(s, dir, "documents")
          .withColumn("lb", floor(col("n_chars") / LengthTolerance))
        val hot = slim.groupBy(col("source"), col("lb"))
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") > D4MaxBlock)
          .select(col("source"), col("lb"))
        val d = slim
          .join(broadcast(hot), Seq("source", "lb"), "left_anti")
          // jaccard over 60-bit 4-gram fingerprints, not gram strings
          // (d18's verify idiom): the pair intersect/union is the whole
          // cost of this similarity report — count() hides it, the
          // collect_ratio census measured it at 18.8 s of sf0.1 string
          // hashing — and long probes are several times cheaper. The
          // twin computes the same fingerprints, so the two engines
          // stay hash-identical; values differ from raw-gram jaccard
          // only on a 2^-60 truncated-md5 collision.
          .withColumn("sh", transform(Text.charShingles(col("text"), 4),
            s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))
          .select(col("doc_id"), col("source"), col("n_chars"), col("lb"),
            col("sh"))
          // cached: BOTH join sides (probes and build) consume this
          // frame, and the interpreted gram extraction is the real cost
          // (noop-profiled at sf0.1: one sh build ~6 s, the 50k pair
          // intersects ~0.5 s) — without the cache each side re-derives
          // it, so the whole query pays the build 2-3x
          .pipelineCache()
        val probes = d.select(col("doc_id"), col("source"), col("n_chars"),
          col("sh"), explode(array(col("lb") - 1, col("lb"), col("lb") + 1))
            .as("pb"))
        probes.as("a").join(d.as("b"),
            col("a.source") === col("b.source") &&
              col("a.pb") === col("b.lb") &&
              col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.n_chars") - col("b.n_chars")) <= LengthTolerance)
          .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
            round(Text.jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
          .orderBy(col("doc1"), col("doc2"))
      },
      Some(s"""WITH raw AS (
        SELECT doc_id, source, n_chars,
          floor(n_chars / $LengthTolerance) AS lb,
          -- 60-bit 4-gram fingerprints, mirroring the engine's
          -- conv(substr(md5, 1, 15)) exactly (see the engine comment)
          CASE WHEN length(lower(text)) >= 4 THEN
            list_transform(
              list_distinct(list_transform(range(0, length(lower(text)) - 3),
                j -> substr(lower(text), j+1, 4))),
              s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))
          ELSE [] END AS sh
        FROM documents
      ), d AS (
        -- mirror of the Spark-side D4MaxBlock hot-block guard: drop every
        -- (source, length-bucket) block larger than the cap from BOTH join
        -- sides (same pattern as d2's capped CTE for band buckets)
        SELECT * FROM (
          SELECT *, count(*) OVER (PARTITION BY source, lb) AS bsz FROM raw
        ) WHERE bsz <= $D4MaxBlock
      )
      SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(a.sh || b.sh)), 6) AS jaccard
      FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        AND abs(a.n_chars - b.n_chars) <= $LengthTolerance
      ORDER BY doc1, doc2""")),

    // ---- d5: top-20 closest embedding pairs by cosine (near-dup scan).
    //      Exact O(n^2) brute force only below [[NearDupBruteMax]];
    //      above it, candidates come from hyperplane-LSH band-key
    //      collisions (key-equality join) and are exact-reranked.
    //      ORACLE BOUND: the DuckDB twin below is always the exact
    //      brute-force scan, so it is a valid oracle only while the
    //      embeddings corpus has <= NearDupBruteMax (1000) vectors —
    //      true at the driver's correctness scale (sf0.01: 200 vectors;
    //      sf0.001: 20). At larger corpora the Spark side is
    //      approximate BY DESIGN (recall-tested in DedupSpec instead);
    //      a hash-compare there would spuriously flag the intended
    //      approximation, not a bug.
    "d5_embedding_neardup" -> QueryDef(
      (s, dir) => {
        embeddingPairs(s, dir)
          .orderBy(col("cos").desc, col("vec1"), col("vec2"))
          .limit(20)
      },
      Some("""-- exact-oracle bound: valid only while count(embeddings) <= 1000
      -- (NearDupBruteMax); above that the engine intentionally switches
      -- to approximate LSH candidates and this brute-force twin no
      -- longer describes the contract (recall spec covers it instead)
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), p AS (
        SELECT a.vec_id AS vec1, b.vec_id AS vec2,
          round(
            list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
      )
      SELECT vec1, vec2, cos FROM p ORDER BY cos DESC, vec1, vec2 LIMIT 20""")),

    // ---- d9: semantic dedup clusters — connected components over the
    //      embedding near-dup pair graph (d6's analogue in embedding
    //      space): pairs above [[NearDupCosThreshold]] by cosine, then
    //      large-star/small-star contraction. Same oracle bound as d5
    //      (brute twin valid only under NearDupBruteMax; above it the
    //      LSH candidates are approximate by design).
    "d9_embedding_clusters" -> QueryDef(
      (s, dir) => {
        val pairs = embeddingPairs(s, dir)
          .filter(col("cos") >= NearDupCosThreshold)
          .select(col("vec1").as("doc1"), col("vec2").as("doc2"))
        val vecs = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"))
        val comp = connectedComponents(vecs, pairs)
        val sizes = comp.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        comp.join(sizes, "cluster_id")
          .select(col("doc_id").as("vec_id"), col("cluster_id"),
            col("cluster_size"))
          .orderBy(col("vec_id"))
      },
      Some(s"""-- same exact-oracle bound as d5: brute pair twin, valid
      -- while count(embeddings) <= $NearDupBruteMax.
      -- sf1-EXECUTION NOTE (r14): above the gate this twin is doubly
      -- out of contract — the brute pair enumeration is ~200M 64-dim
      -- cosines in DuckDB (hours) AND its verdict is a documented
      -- expected-mismatch anyway (the engine switches to LSH
      -- candidates by design). Executing it at scale would burn CPU to
      -- confirm a mismatch already classified in sfExpectedMismatch.
      -- The REPLACEMENT CHECKS at scale are (a) d25_embedding_lsh_recall
      -- (graded recall of the exact pair channel d9 consumes) and
      -- (b) the engine-side cluster-consistency invariant (every pair
      -- above threshold lands in one cluster; sizes consistent),
      -- DedupSpec's d6-posture, run on the sf1 leg and recorded in
      -- PERF.md.
      WITH RECURSIVE e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), p AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(
            list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6)
          >= $NearDupCosThreshold
      ), sym AS (
        SELECT v1 AS a, v2 AS b FROM p UNION ALL SELECT v2, v1 FROM p
      ), walk(vec, comp) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        -- descending-labels prune, same proof as ccRankedSqlCtes
        SELECT s.b, w.comp FROM walk w JOIN sym s
          ON s.a = w.vec AND w.comp < s.b
      ), cc AS (SELECT vec, min(comp) AS cluster_id FROM walk GROUP BY vec),
      sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
      SELECT vec AS vec_id, cc.cluster_id, cluster_size
      FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
      ORDER BY vec_id""")),

    // ---- d10: substring-level duplication (repeated n-gram windows —
    //      the Lee et al. 2022 exact-substring-dedup family; d1-d9 are
    //      all DOCUMENT-level). Every distinct W-word window is hashed
    //      (md5 — the shuffle carries 32-char digests, not window
    //      text), counted across the corpus by key-equality groupBy,
    //      and each document reports how much of it is corpus-repeated
    //      material. Two map-side-combined aggregations, no pair join:
    //      cost is O(total windows), never O(docs^2).
    "d10_substring_windows" -> QueryDef(
      (s, dir) => {
        val W = SubstringWindow
        // per-doc DISTINCT window hash arrays, kept in ARRAY form (16B
        // binary md5 digests — half the hex string's shuffle bytes;
        // bijective, so the hex-keyed DuckDB twin groups identically).
        // Cached pre-explode: the array frame is ~half the exploded
        // row set that used to be pipelineCache'd — the measured sf100
        // single-disk spill term — and both consumers re-explode it
        // for free
        val d = Tables.rebalance(Tables.table(s, dir, "documents"))
          .select(col("doc_id"), Text.words(col("text")).as("w"))
          .filter(size(col("w")) >= W)
          .select(col("doc_id"),
            array_distinct(transform(sequence(lit(0), size(col("w")) - W),
              j => unhex(md5(concat_ws(" ", slice(col("w"), j + 1, lit(W)))
                .cast("binary"))))).as("hs"))
          .pipelineCache()
        val wins = d.select(col("doc_id"), explode(col("hs")).as("h"))
        // (h, doc_id) is UNIQUE by construction (per-doc distinct), so
        // count(*) IS count(distinct doc_id) — no two-phase distinct
        // machinery — and only the REPEATED windows (typically a tiny
        // fraction) survive into the join-back, instead of the full
        // one-row-per-distinct-window count table
        val shared = wins.groupBy(col("h"))
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .select(col("h"))
        val nShared = wins.join(shared, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
        // n_windows is ROW-LOCAL (array size) — the per-doc report
        // never rides the window shuffle at all
        d.select(col("doc_id"), size(col("hs")).cast("long").as("n_windows"))
          .join(nShared, Seq("doc_id"), "left")
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .withColumn("shared_frac",
            floor(col("n_shared").cast("double") / col("n_windows") * 1e6
              + 0.5) / 1e6)
          .withColumn("is_substring_dup",
            (col("n_shared") > 0).cast("long"))
          .select(col("doc_id"), col("n_windows"), col("n_shared"),
            col("shared_frac"), col("is_substring_dup"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
        SELECT doc_id, $wordsSqlDuck AS w FROM documents
        WHERE len($wordsSqlDuck) >= $SubstringWindow
      ), wins AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(0, len(w) - ${SubstringWindow - 1}),
          j -> md5(array_to_string(
            list_slice(w, j+1, j+$SubstringWindow), ' '))))) AS h
        FROM d
      ), counts AS (
        SELECT h, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY 1
      )
      SELECT w.doc_id, count(*) AS n_windows,
        CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_shared,
        floor(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*) * 1e6 + 0.5) / 1e6 AS shared_frac,
        CAST(CASE WHEN sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) > 0
          THEN 1 ELSE 0 END AS BIGINT) AS is_substring_dup
      FROM wins w JOIN counts c ON w.h = c.h
      GROUP BY w.doc_id ORDER BY w.doc_id""")),

    // ---- d15: Bloom-filter decontamination — d7's answer computed the
    //      way a 100-TB corpus-vs-benchmark pass actually ships. d7
    //      broadcasts the eval n-gram set as exact strings; at real
    //      benchmark-suite sizes that broadcast is GBs on every
    //      executor. d15 broadcasts a ~9.6-bits-per-gram Bloom filter
    //      instead (1% fpp) and probes it ROW-LOCALLY over each doc's
    //      shingle array (native codegen'd [[graft.functions.BloomMemberCount]]
    //      — no explode, no join for the clean majority); only docs
    //      with >= 1 bloom hit explode and take the exact key-equality
    //      confirm join, which removes the false positives. No false
    //      negatives, so the output is BYTE-IDENTICAL to d7 — the
    //      oracle is the same SQL, and the plan is the one you'd want
    //      at scale: contaminated docs are rare, so the expensive path
    //      sees a tiny fraction of the corpus. The confirm join is
    //      deliberately NOT broadcast-hinted: its eval side is the
    //      exact gram set d15 exists to avoid broadcasting (AQE may
    //      still choose broadcast at test scale — that choice is
    //      size-driven, which is the point).
    "d15_bloom_decontamination" -> QueryDef(
      (s, dir) => {
        val isEval = col("doc_id") % DecontamEvalMod === 0
        val train = decontamShingled(s, dir).filter(!isEval)
        // always the bloom path (that IS d15 — d7 gates into this same
        // plan past EvalGrams.ExactMax); the filter build is the
        // tree-merged EvalGrams.bloomOf, and the materialized gram set
        // makes the sizing count a parquet-metadata read
        val evalG = evalGramSet(s, dir)
        val confirmed = EvalGrams.bloomCounts(train, evalG, evalG.count())
        train.select(col("doc_id"))
          .join(confirmed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n"), lit(0L)).as("n_shared_ngrams"),
            (coalesce(col("n"), lit(0L)) > 0L).cast("long").as("contaminated"))
          .orderBy(col("doc_id"))
      },
      // identical result to d7 by construction (bloom has no false
      // negatives; the exact confirm join removes its false positives),
      // so the oracle is d7's exact-containment SQL verbatim
      Some(s"""WITH g AS (
        SELECT doc_id, unnest(${shinglesSqlDuck(DecontamN)}) AS g
        FROM documents
      ), e AS (
        SELECT DISTINCT g FROM g WHERE doc_id % $DecontamEvalMod = 0
      ), c AS (
        SELECT g.doc_id, count(*) AS n
        FROM g JOIN e USING (g) WHERE g.doc_id % $DecontamEvalMod <> 0
        GROUP BY 1
      )
      SELECT d.doc_id, coalesce(n, 0) AS n_shared_ngrams,
        CAST(coalesce(n, 0) > 0 AS BIGINT) AS contaminated
      FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
      WHERE d.doc_id % $DecontamEvalMod <> 0
      ORDER BY d.doc_id""")),

    // ---- d16: corpus snapshot diff — the data-versioning primitive a
    //      recurring ingest needs beside d14's incremental admission:
    //      given two corpus snapshots, classify every doc_id as
    //      added / removed / changed / unchanged. Snapshots are derived
    //      deterministically from the one documents table (old drops
    //      doc_id % [[DiffMod]] == [[DiffAddSlot]] — those become the
    //      "added" docs; new drops % == [[DiffRemoveSlot]] — "removed" —
    //      and appends an edit marker to text when
    //      doc_id % [[DiffChangeMod]] == [[DiffChangeSlot]] — "changed").
    //
    //      Scale shape: each side reduces to (doc_id, md5(text)) at the
    //      scan — the full-outer join shuffles 16-byte fingerprints on
    //      the doc_id key, never text bytes; classification is a
    //      row-local CASE. At 100 TB this is the plan: narrow columns
    //      through the shuffle, one key-equality join, no driver state.
    "d16_corpus_diff" -> QueryDef(
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        // presence flags, NOT fingerprint-nullness: md5(NULL text) is
        // NULL, so a null-text doc present in both snapshots would
        // read as "added" if classification keyed off the fp columns.
        // The oracle classifies on the joined doc_id the same way.
        val oldFp = docs
          .filter(col("doc_id") % DiffMod =!= DiffAddSlot)
          .select(col("doc_id"), md5(col("text")).as("old_fp"),
            lit(1).as("in_old"))
        val newFp = docs
          .filter(col("doc_id") % DiffMod =!= DiffRemoveSlot)
          .select(col("doc_id"), md5(
            when(col("doc_id") % DiffChangeMod === DiffChangeSlot,
              concat(col("text"), lit(" rev2"))).otherwise(col("text")))
            .as("new_fp"), lit(1).as("in_new"))
        oldFp.join(newFp, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("in_old").isNull, "added")
              .when(col("in_new").isNull, "removed")
              // null-safe: both fps NULL (null text both sides) is
              // "unchanged", matching the oracle's <> three-valued CASE
              .when(!(col("old_fp") <=> col("new_fp")), "changed")
              .otherwise("unchanged").as("status"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH old AS (
        SELECT doc_id, md5(text) AS old_fp FROM documents
        WHERE doc_id % $DiffMod <> $DiffAddSlot
      ), new AS (
        SELECT doc_id, md5(CASE WHEN doc_id % $DiffChangeMod = $DiffChangeSlot
            THEN text || ' rev2' ELSE text END) AS new_fp
        FROM documents WHERE doc_id % $DiffMod <> $DiffRemoveSlot
      )
      SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
        CASE WHEN old.doc_id IS NULL THEN 'added'
             WHEN new.doc_id IS NULL THEN 'removed'
             WHEN old_fp <> new_fp THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
      ORDER BY doc_id""")),

    // ---- d17: per-EVAL-doc contamination severity report — the
    //      inverse direction of d7. d7 answers "which TRAIN docs carry
    //      eval n-grams" (the docs to drop); d17 answers "how
    //      compromised is each EVAL item" (the report a model card
    //      publishes before trusting a benchmark number — the GPT-3
    //      appendix-C posture): per eval doc, its distinct
    //      [[DecontamN]]-gram count, how many of those grams occur
    //      anywhere in the train split, and the integer-exact overlap
    //      fraction in micro-units (NULL for gram-less docs — too
    //      short to measure, not "clean").
    //
    //      Scale shape: the train corpus is touched by ONE pass that
    //      never aggregates it — each doc row-locally probes the
    //      eval-gram bloom ([[EvalGrams.bloomOf]]'s tree-merged
    //      filter) and only bloom-HIT docs explode into the exact
    //      confirm join (d15's plan, deliberately not
    //      broadcast-hinted: the eval side is what's too big to ship
    //      above the gate). Everything after the confirm — the
    //      distinct shared-gram set, the per-eval-doc counts — is
    //      bounded by the EVAL SUITE's gram count, independent of
    //      corpus size.
    "d17_contamination_report" -> QueryDef(
      (s, dir) =>
        contaminationReport(decontamShingled(s, dir),
          evalGramSet(s, dir)),
      Some(s"""WITH g AS (
        SELECT doc_id, unnest(${shinglesSqlDuck(DecontamN)}) AS g
        FROM documents
      ), e AS (
        SELECT DISTINCT g FROM g WHERE doc_id % $DecontamEvalMod = 0
      ), t AS (
        SELECT DISTINCT g FROM g WHERE doc_id % $DecontamEvalMod <> 0
      ), shared AS (
        SELECT e.g FROM e JOIN t USING (g)
      ), per AS (
        SELECT doc_id, count(*) AS n_shared
        FROM g JOIN shared USING (g)
        WHERE doc_id % $DecontamEvalMod = 0 GROUP BY 1
      ), base AS (
        SELECT doc_id, CAST(coalesce(len(${shinglesSqlDuck(DecontamN)}), 0)
          AS BIGINT) AS n_grams
        FROM documents WHERE doc_id % $DecontamEvalMod = 0
      )
      SELECT b.doc_id, b.n_grams,
        coalesce(p.n_shared, 0) AS n_shared,
        CAST(coalesce(p.n_shared, 0) * 1000000
          // nullif(b.n_grams, 0) AS BIGINT) AS overlap_micro,
        CAST(coalesce(p.n_shared, 0) > 0 AS BIGINT) AS contaminated_eval
      FROM base b LEFT JOIN per p USING (doc_id)
      ORDER BY b.doc_id""")),

    // ---- d18: containment dedup — the ASYMMETRIC relation Jaccard
    //      misses: a short doc embedded whole inside a longer one
    //      (quote farms, doc+boilerplate re-publications, partial
    //      scrapes) has containment |A∩B|/|A| near 1 while its Jaccard
    //      |A∩B|/|A∪B| shrinks with the size gap, so d2's verify
    //      discards exactly the pairs this operator exists to flag
    //      (Broder 1997 separates the two resemblance measures for
    //      this reason). Candidates come from TWO channels unioned in
    //      the shared [[containmentCandidates]] table: the persisted
    //      d2 band index (strong at Jaccard-sized gaps, decays as
    //      1-(1-J²)^32 when the size gap shrinks J — the round-11
    //      documented approximation) and the round-12 bottom-k
    //      shingle-fingerprint channel, which exploits containment's
    //      subset structure and stays flat exactly where banding
    //      collapses (see [[ContainBottomK]]; d22 is the committed
    //      recall audit, ContainmentRecallSpec the planted gap
    //      curve). Then one exact shingle-intersect verify with an
    //      INTEGER threshold test (inter·10 >= 6·min(n1,n2) — no
    //      float compare can disagree between engines). Skew/scale:
    //      both channels hot-key capped; the verify join ships
    //      shingle arrays only for candidate pairs.
    "d18_containment" -> QueryDef(
      (s, dir) =>
        containmentVerify(containmentCandidates(s, dir), shingled(s, dir)),
      Some(s"""WITH $d2CoreSql, $containSqlCtes
      SELECT doc1, doc2,
        CAST(a.n AS BIGINT) AS n1,
        CAST(b.n AS BIGINT) AS n2,
        CAST(len(list_intersect(a.fp, b.fp)) AS BIGINT) AS inter,
        round(CAST(len(list_intersect(a.fp, b.fp)) AS DOUBLE)
          / a.n, 6) AS c12,
        round(CAST(len(list_intersect(a.fp, b.fp)) AS DOUBLE)
          / b.n, 6) AS c21,
        CASE WHEN a.n <= b.n THEN doc1 ELSE doc2 END
          AS contained_doc
      FROM cpairs JOIN cfp a ON cpairs.doc1 = a.doc_id
                  JOIN cfp b ON cpairs.doc2 = b.doc_id
      WHERE len(list_intersect(a.fp, b.fp)) * $ContainDenom >=
        $ContainNum * least(a.n, b.n)
      ORDER BY doc1, doc2""")),

    // ---- d19: source overlap matrix — the venn diagram a data team
    //      draws before combining dumps (how much of C4 is already in
    //      CC?): per source pair, the CONTENT they share, measured as
    //      shared distinct [[DecontamN]]-word shingle fingerprints
    //      (d7/t13's kernel — Broder's resemblance unit), each side's
    //      distinct-shingle count, and the integer-micro Jaccard of
    //      the two shingle sets. Whole-doc fingerprints would only
    //      catch verbatim re-publications; dump overlap in practice is
    //      partial (same articles inside different boilerplate), which
    //      is exactly what shingle-set Jaccard measures. Scale shape:
    //      ONE corpus-proportional shuffle — groupBy(fp) with a
    //      map-side-combined collect_set(source) whose per-key state
    //      is bounded by #sources (a catalog constant, not corpus
    //      size); the source-pair explode (≤ #sources² per shared fp)
    //      and the per-source totals both ride that grouped frame, so
    //      the corpus-sized data is never self-joined or re-shuffled;
    //      16-byte fps — not shingle strings — cross the shuffle
    //      (d16's idiom); totals are a #sources-row broadcast.
    //      Null/short texts shingle to empty arrays and drop out of
    //      the explode in both engines identically.
    "d19_source_overlap" -> QueryDef(
      (s, dir) => {
        // consumes the decontamination family's materialized shingle
        // checkpoint (r16): the query used to re-run the whole
        // tokenize+shingle extraction d7/d15/e1 already checkpoint —
        // the same interpreted-HOF pass, once per bench run. The
        // checkpoint now carries `source`, so d19 is a scan + explode
        // over plain attributes; shuffle shape below is unchanged
        // (ONE corpus-proportional groupBy(fp)).
        val perFp = decontamShingled(s, dir)
          .select(col("source"), explode(col("sh")).as("sh"))
          // binary(16) fp, not the 32-char hex rendering — halves the
          // key bytes on the query's one corpus-proportional shuffle
          // (the cappedBanded/d10 idiom); fps never reach the output
          .select(unhex(md5(col("sh"))).as("fp"), col("source"))
          .groupBy(col("fp"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
        val tot = perFp.select(explode(col("ss")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_fps"))
        val ov = perFp.filter(size(col("ss")) > 1)
          .select(explode(expr(
            """flatten(transform(sequence(1, size(ss) - 1),
                 i -> transform(slice(ss, i + 1, size(ss) - i),
                   x -> struct(element_at(ss, i) AS a, x AS b))))"""))
            .as("p"))
          .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
          .agg(count(lit(1)).as("n_shared_fps"))
        ov
          .join(broadcast(tot.select(col("source").as("source_a"),
            col("n_fps").as("n_fps_a"))), "source_a")
          .join(broadcast(tot.select(col("source").as("source_b"),
            col("n_fps").as("n_fps_b"))), "source_b")
          .withColumn("overlap_micro", expr(
            """n_shared_fps * 1000000 div
              (n_fps_a + n_fps_b - n_shared_fps)"""))
          .select(col("source_a"), col("source_b"), col("n_shared_fps"),
            col("n_fps_a"), col("n_fps_b"), col("overlap_micro"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH fs AS (
        SELECT DISTINCT source, md5(sh) AS fp
        FROM (SELECT coalesce(source, '') AS source,
              unnest(${shinglesSqlDuck(DecontamN)}) AS sh
              FROM documents)
      ), tot AS (
        SELECT source, count(*) AS n_fps FROM fs GROUP BY 1
      ), ov AS (
        SELECT a.source AS source_a, b.source AS source_b,
          count(*) AS n_shared_fps
        FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
      )
      SELECT source_a, source_b, n_shared_fps,
        ta.n_fps AS n_fps_a, tb.n_fps AS n_fps_b,
        CAST(n_shared_fps * 1000000 //
          (ta.n_fps + tb.n_fps - n_shared_fps) AS BIGINT) AS overlap_micro
      FROM ov JOIN tot ta ON ov.source_a = ta.source
              JOIN tot tb ON ov.source_b = tb.source
      ORDER BY source_a, source_b""")),

    // ---- d20: threshold calibration sweep — the report a data team
    //      reads before CHOOSING the dedup threshold: for each
    //      candidate Jaccard cut, how many verified pairs qualify, how
    //      many docs a keep-lowest-id rule would drop, and what share
    //      of the corpus that is. Rides the SAME persisted d2 pair
    //      table (zero extra candidate work; the grid's floor is d2's
    //      verify threshold by construction — documented on
    //      [[SweepThresholdsMicro]]). Scale shape: pair-table × 7
    //      literal grid rows + a 1-row corpus total, all broadcast —
    //      never corpus-proportional beyond the shared checkpoint.
    //      Thresholds compare in exact micro integers (round(jac·1e6)
    //      is bit-identical on both engines; a float >= 0.3 compare
    //      would not be). n_docs_droppable counts docs appearing as
    //      the GREATER id of a qualifying pair (d1's min-id-canonical
    //      convention); the transitive-closure removal count is d6's
    //      job, not a sweep's.
    "d20_threshold_sweep" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val pairs = minhashPairs(s, dir)
          .withColumn("jm", round(col("jaccard") * 1e6).cast("long"))
        val grid = SweepThresholdsMicro.toDF("threshold_micro")
        val tot = Tables.table(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"))
        // grid-anchored: an EMPTY pair table (clean corpus) must still
        // report 7 zero rows, not an empty frame a consumer can't tell
        // from a broken query — aggregate the pair x grid cross first,
        // then left-join back onto the grid and zero-fill
        val agged = pairs.crossJoin(broadcast(grid))
          .groupBy(col("threshold_micro"))
          .agg(
            sum(when(col("jm") >= col("threshold_micro"), 1L)
              .otherwise(0L)).as("np"),
            countDistinct(when(col("jm") >= col("threshold_micro"),
              col("doc2"))).as("nd"))
        grid.join(agged, Seq("threshold_micro"), "left")
          .crossJoin(broadcast(tot))
          .select(col("threshold_micro"),
            coalesce(col("np"), lit(0L)).as("n_pairs"),
            coalesce(col("nd"), lit(0L)).as("n_docs_droppable"),
            col("n_docs"))
          .withColumn("drop_share_micro",
            expr("n_docs_droppable * 1000000 div n_docs"))
          .orderBy(col("threshold_micro"))
      },
      Some(s"""WITH $d2CoreSql,
        grid(threshold_micro) AS (VALUES ${
          SweepThresholdsMicro.map(t => s"($t)").mkString(", ")}),
        tot AS (SELECT count(*) AS n_docs FROM documents),
        v AS (SELECT CAST(round(jaccard * 1e6) AS BIGINT) AS jm,
          doc2 FROM verified),
        agged AS (
          SELECT threshold_micro,
            sum(CASE WHEN jm >= threshold_micro THEN 1 ELSE 0 END) AS np,
            count(DISTINCT CASE WHEN jm >= threshold_micro
              THEN doc2 END) AS nd
          FROM v CROSS JOIN grid GROUP BY threshold_micro)
      SELECT CAST(threshold_micro AS BIGINT) AS threshold_micro,
        CAST(coalesce(np, 0) AS BIGINT) AS n_pairs,
        CAST(coalesce(nd, 0) AS BIGINT) AS n_docs_droppable,
        n_docs,
        CAST(coalesce(nd, 0) * 1000000 // n_docs AS BIGINT)
          AS drop_share_micro
      FROM grid LEFT JOIN agged USING (threshold_micro) CROSS JOIN tot
      ORDER BY threshold_micro""")),

    // ---- d21: LSH recall evaluation — s9's posture for the TEXT side:
    //      before trusting d2's banded index as the corpus dedup plan,
    //      grade what the banding actually misses. Ground truth is the
    //      exact all-pairs verify over a FIXED bounded audit slice
    //      (doc_id < [[LshEvalMaxId]] — constant at any corpus size, so
    //      the quadratic stays a constant ~125k-pair probe forever);
    //      found = the shared persisted d2 pair table restricted to the
    //      slice. Every found pair passes the identical exact-Jaccard
    //      gate, so found is a subset of truth by construction and the report is
    //      pure recall (the miss channels: hot-bucket cap evictions +
    //      zero band collisions + the est pre-filter's margin). One
    //      row: truth/found/missed counts, integer-micro recall, and
    //      the missed pairs' mean Jaccard micro (how close the misses
    //      sit to the threshold — NULL when nothing is missed).
    "d21_lsh_recall" -> QueryDef(
      (s, dir) => {
        // slice bound anchored at min(doc_id): the audit window follows
        // the corpus's id range instead of assuming density from 0.
        // One bounded 1-row collect (the d7 size-gate pattern) keeps
        // the plan literal-filtered — a crossJoin'd scalar would add a
        // corpus scan + agg per consumer.
        val hiRow = shingled(s, dir).agg(min(col("doc_id"))).collect().head
        val hi = if (hiRow.isNullAt(0)) Long.MinValue // empty corpus
          else hiRow.getLong(0) + LshEvalMaxId
        val slice = shingled(s, dir)
          .filter(col("doc_id") < hi && size(col("sh")) > 0)
          .select(col("doc_id"), col("sh"))
        val truth = slice.select(col("doc_id").as("doc1"),
            col("sh").as("sh1"))
          .join(slice.select(col("doc_id").as("doc2"),
            col("sh").as("sh2")), col("doc1") < col("doc2"))
          .filter(Text.jaccard(col("sh1"), col("sh2")) >= JaccardThreshold)
          .select(col("doc1"), col("doc2"),
            expr("""size(array_intersect(sh1, sh2)) * 1000000L
              div size(array_union(sh1, sh2))""").as("jm"))
        val found = minhashPairs(s, dir)
          .filter(col("doc1") < hi && col("doc2") < hi)
          .select(col("doc1"), col("doc2"), lit(1L).as("hit"))
        truth.join(found, Seq("doc1", "doc2"), "left")
          .agg(count(lit(1)).as("n_truth"),
            coalesce(sum(col("hit")), lit(0L)).as("n_found"),
            (count(lit(1)) - coalesce(sum(col("hit")), lit(0L)))
              .as("n_missed"),
            expr("""coalesce(sum(hit), 0L) * 1000000L
              div nullif(count(1), 0L)""").as("recall_micro"),
            expr("""sum(CASE WHEN hit IS NULL THEN jm END)
              div nullif(count(CASE WHEN hit IS NULL THEN 1 END), 0L)""")
              .as("mean_missed_jaccard_micro"))
      },
      Some(s"""WITH $d2CoreSql,
      lo AS (
        SELECT min(doc_id) + $LshEvalMaxId AS hi FROM base
      ), slice AS (
        SELECT doc_id, sh FROM base, lo WHERE doc_id < hi
      ), truth AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          len(list_intersect(a.sh, b.sh)) * 1000000 //
            len(list_distinct(a.sh || b.sh)) AS jm
        FROM slice a JOIN slice b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(a.sh || b.sh)) >= $JaccardThreshold
      ), found AS (
        SELECT doc1, doc2, 1 AS hit FROM verified, lo
        WHERE doc1 < hi AND doc2 < hi
      )
      SELECT count(*) AS n_truth,
        CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_found,
        CAST(count(*) - coalesce(sum(hit), 0) AS BIGINT) AS n_missed,
        CAST(coalesce(sum(hit), 0) * 1000000 // nullif(count(*), 0)
          AS BIGINT) AS recall_micro,
        CAST(sum(CASE WHEN hit IS NULL THEN jm END) //
          nullif(count(CASE WHEN hit IS NULL THEN 1 END), 0) AS BIGINT)
          AS mean_missed_jaccard_micro
      FROM truth LEFT JOIN found USING (doc1, doc2)""")),

    // ---- d22: CONTAINMENT recall audit — d21's posture for d18's
    //      honest approximation. d18's candidates come from d2's
    //      Jaccard-tuned band index, and containment's target pairs
    //      (short doc inside a much longer one) are precisely where
    //      minhash band collision is weakest: P(band hit) falls with
    //      the Jaccard, and a contained doc's Jaccard shrinks as
    //      min/max of the size gap. This report MEASURES that decay
    //      instead of narrating it: exact all-pairs containment truth
    //      over the same min-anchored bounded slice d21 uses, found =
    //      d18's own pipeline (band candidates + identical integer
    //      gate, so found ⊆ truth by construction), grouped by the
    //      SIZE-RATIO bucket max(n1,n2) div min(n1,n2) capped at 4
    //      (bucket 4 = "4x or wider" — the gap class where collapse
    //      is expected). One row per occupied bucket: the recall
    //      curve a team reads before trusting d18 at a given gap.
    //      ContainmentRecallSpec drives a PLANTED gap corpus (ratios
    //      1-8x) and records the measured curve; the decision rule
    //      (size-stratified banding if bucket-4 recall collapses) is
    //      documented there with the numbers.
    "d22_containment_recall" -> QueryDef(
      (s, dir) => {
        val hiRow = shingled(s, dir).agg(min(col("doc_id"))).collect().head
        val hi = if (hiRow.isNullAt(0)) Long.MinValue
          else hiRow.getLong(0) + LshEvalMaxId
        val slice = shingleFps(shingled(s, dir)
          .filter(col("doc_id") < hi && size(col("sh")) > 0))
        val truth = slice.select(col("doc_id").as("doc1"),
            col("n").as("n1"), col("fp").as("fp1"))
          .join(slice.select(col("doc_id").as("doc2"),
            col("n").as("n2"), col("fp").as("fp2")),
            col("doc1") < col("doc2"))
          .withColumn("inter",
            size(array_intersect(col("fp1"), col("fp2"))).cast("long"))
          .filter(col("inter") * ContainDenom >=
            least(col("n1"), col("n2")) * ContainNum)
          .select(col("doc1"), col("doc2"),
            expr("least(greatest(n1, n2) div least(n1, n2), 4L)")
              .as("ratio_bucket"))
        // slice the CANDIDATES before the verify, not after: verify
        // ships both shingle arrays per pair, and the audit only reads
        // slice-internal pairs — pre-filtering makes the audit's
        // marginal cost slice-bounded at any corpus size (the sf10
        // day-one chain measured the post-filter form paying a
        // corpus-wide verify it then threw away). Verify is row-local
        // per pair, so the result set is identical by construction.
        val found = containmentVerify(
            containmentCandidates(s, dir)
              .filter(col("doc1") < hi && col("doc2") < hi),
            shingled(s, dir))
          .select(col("doc1"), col("doc2"), lit(1L).as("hit"))
        truth.join(found, Seq("doc1", "doc2"), "left")
          .groupBy(col("ratio_bucket"))
          .agg(count(lit(1)).as("n_truth"),
            coalesce(sum(col("hit")), lit(0L)).as("n_found"),
            (count(lit(1)) - coalesce(sum(col("hit")), lit(0L)))
              .as("n_missed"),
            expr("""coalesce(sum(hit), 0L) * 1000000L
              div count(1)""").as("recall_micro"))
          .orderBy(col("ratio_bucket"))
      },
      Some(s"""WITH $d2CoreSql, $containSqlCtes,
      lo AS (
        SELECT min(doc_id) + $LshEvalMaxId AS hi FROM base
      ), slice AS (
        SELECT doc_id, n, fp FROM cfp, lo WHERE doc_id < hi
      ), ctruth AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
          least(greatest(a.n, b.n) // least(a.n, b.n), 4) AS ratio_bucket
        FROM slice a JOIN slice b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.fp, b.fp)) * $ContainDenom >=
          $ContainNum * least(a.n, b.n)
      ), cfound AS (
        SELECT doc1, doc2, 1 AS hit
        FROM cpairs JOIN cfp a ON cpairs.doc1 = a.doc_id
                    JOIN cfp b ON cpairs.doc2 = b.doc_id, lo
        WHERE doc1 < hi AND doc2 < hi AND
          len(list_intersect(a.fp, b.fp)) * $ContainDenom >=
            $ContainNum * least(a.n, b.n)
      )
      SELECT CAST(ratio_bucket AS BIGINT) AS ratio_bucket,
        count(*) AS n_truth,
        CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_found,
        CAST(count(*) - coalesce(sum(hit), 0) AS BIGINT) AS n_missed,
        CAST(coalesce(sum(hit), 0) * 1000000 // count(*) AS BIGINT)
          AS recall_micro
      FROM ctruth LEFT JOIN cfound USING (doc1, doc2)
      GROUP BY 1 ORDER BY 1""")),

    // ---- d23: duplicated-block scrub report — the line-level exact
    //      dedup every CC-scale pipeline runs (CCNet / RefinedWeb drop
    //      every line that repeats across documents: boilerplate,
    //      navigation chrome, cookie banners; RefinedWeb measured ~30%
    //      of web bytes removed this way). The corpus has no newlines,
    //      so the "line" unit is a fixed [[ScrubBlockWords]]-word
    //      non-overlapping block — same contract, same plan shape.
    //      A block is scrubbed when its exact text occurs in >= 2
    //      DISTINCT docs (every occurrence goes, the CCNet rule —
    //      unlike d1, which keeps one canonical copy of a whole-doc
    //      dup). Per-doc report: block/word volume, scrubbed volume,
    //      retained share.
    //
    //      Scale shape: n_blocks/n_words are ROW-LOCAL (array sizes —
    //      they never ride a shuffle); the only shuffled rows are
    //      (16-byte block hash, doc_id) pairs — corpus_words/W rows,
    //      d10's budget — and only hashes that REPEAT across docs
    //      survive into the join-back (typically a tiny fraction).
    //      Within-doc repeats ride the same explode with a row-local
    //      distinct for the doc-count side, so count(*) over the
    //      deduped frame IS count(distinct doc_id), d10's trick.
    "d23_block_scrub" -> QueryDef(
      (s, dir) => {
        val W = ScrubBlockWords
        val d = Tables.rebalance(Tables.table(s, dir, "documents"))
          .select(col("doc_id"),
            Text.words(coalesce(col("text"), lit(""))).as("w"))
          .pipelineCache()
        // every block occurrence: (doc_id, h=md5(block), nw=block words)
        val b = d.filter(size(col("w")) > 0)
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0), floor((size(col("w")) - 1) / lit(W))
                .cast("int")),
              i => struct(
                unhex(md5(concat_ws(" ",
                  slice(col("w"), i * W + 1, lit(W)))
                  .cast("binary"))).as("h"),
                size(slice(col("w"), i * W + 1, lit(W)))
                  .cast("long").as("nw")))).as("blk"))
          .select(col("doc_id"), col("blk.h").as("h"),
            col("blk.nw").as("nw"))
        val dupH = b.select(col("doc_id"), col("h")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2).select(col("h"))
        val scrubbed = b.join(dupH, "h")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_dup_blocks"),
            sum(col("nw")).as("removed_words"))
        d.select(col("doc_id"),
            (((size(col("w")) + W - 1) / W).cast("long")).as("n_blocks"),
            size(col("w")).cast("long").as("n_words"))
          .join(scrubbed, Seq("doc_id"), "left")
          .withColumn("n_dup_blocks", coalesce(col("n_dup_blocks"), lit(0L)))
          .withColumn("removed_words",
            coalesce(col("removed_words"), lit(0L)))
          .withColumn("retained_micro", expr(
            """(n_words - removed_words) * 1000000L
              div nullif(n_words, 0L)"""))
          .select(col("doc_id"), col("n_blocks"), col("n_words"),
            col("n_dup_blocks"), col("removed_words"),
            col("retained_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
        SELECT doc_id,
          regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS w
        FROM documents
      ), b AS (
        SELECT doc_id,
          md5(array_to_string(
            list_slice(w, i*$ScrubBlockWords + 1,
              i*$ScrubBlockWords + $ScrubBlockWords), ' ')) AS h,
          CAST(len(list_slice(w, i*$ScrubBlockWords + 1,
            i*$ScrubBlockWords + $ScrubBlockWords)) AS BIGINT) AS nw
        FROM (
          SELECT doc_id, w,
            unnest(range(0,
              (len(w) + ${ScrubBlockWords - 1}) // $ScrubBlockWords)) AS i
          FROM d WHERE len(w) > 0)
      ), duph AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM b)
        GROUP BY h HAVING count(*) >= 2
      ), scrub AS (
        SELECT doc_id, count(*) AS n_dup_blocks,
          CAST(sum(nw) AS BIGINT) AS removed_words
        FROM b JOIN duph USING (h) GROUP BY doc_id
      )
      SELECT d.doc_id,
        CAST((len(w) + ${ScrubBlockWords - 1}) // $ScrubBlockWords
          AS BIGINT) AS n_blocks,
        CAST(len(w) AS BIGINT) AS n_words,
        coalesce(s.n_dup_blocks, 0) AS n_dup_blocks,
        coalesce(s.removed_words, 0) AS removed_words,
        (CAST(len(w) AS BIGINT) - coalesce(s.removed_words, 0)) * 1000000
          // nullif(CAST(len(w) AS BIGINT), 0) AS retained_micro
      FROM d LEFT JOIN scrub s USING (doc_id)
      ORDER BY d.doc_id""")),

    // ---- d24: SUBSTRING-DEDUP FIDELITY AUDIT (the d22 posture, aimed
    //      at d10) — the r12 verdict asked whether d10's fixed-W
    //      sliding windows miss duplicated substrings at off-W lengths.
    //      Answer, by construction AND measured here: d10 slides at
    //      STRIDE 1 (every offset), so any shared word-run of length
    //      >= W contains an aligned W-window in both docs and is
    //      caught — recall is EXACTLY 1 for true length >= W, exactly
    //      0 below W (a shorter run contains no W-window; that
    //      blindness is the declared fidelity, finer than the
    //      suffix-array industry threshold of 50 tokens). This query
    //      makes the claim EMPIRICAL: over a min-anchored slice
    //      ([[SubstrAuditMaxId]] docs), truth enumerates LITERAL
    //      substrings at every length 1..[[SubstrAuditMaxLen]]
    //      (clipped), detection runs d10's actual md5-window kernel,
    //      and the report buckets recall by true max shared length. A
    //      hash-collision or kernel bug shows up as a non-0/1000000
    //      bucket; the planted-length fixture pin in
    //      AdversarialParitySpec probes 5/6/7 (invisible) vs 8/9/20
    //      (caught) around the boundary the bench corpus lacks.
    //      Scale: everything after the doc_id-min lookup is
    //      slice-bounded (truth rows <= slice docs x MaxLen x words).
    "d24_substring_recall" -> QueryDef(
      (s, dir) => {
        val W = SubstringWindow
        val base = Tables.table(s, dir, "documents")
          .select(col("doc_id"), Text.words(col("text")).as("w"))
        val hiRow = base.agg(min(col("doc_id"))).collect().head
        val hi = if (hiRow.isNullAt(0)) Long.MinValue
          else hiRow.getLong(0) + SubstrAuditMaxId
        val sliceDf = base.filter(col("doc_id") < hi && size(col("w")) > 0)
          .pipelineCache()
        // truth: per-doc distinct LITERAL substrings at each length
        val dw = sliceDf
          .select(col("doc_id"), col("w"), explode(array(
            (1 to SubstrAuditMaxLen).map(lit): _*)).as("len"))
          .filter(size(col("w")) >= col("len"))
          .select(col("doc_id"), col("len"),
            explode(array_distinct(transform(
              sequence(lit(0), size(col("w")) - col("len")),
              j => concat_ws(" ", slice(col("w"), j + 1, col("len"))))))
              .as("sub"))
        val sharedSub = dw.groupBy(col("len"), col("sub"))
          .agg(count(lit(1)).as("n")) // per-doc distinct -> n = #docs
          .filter(col("n") >= 2).select(col("len"), col("sub"))
        val maxShared = dw.join(sharedSub, Seq("len", "sub"))
          .groupBy(col("doc_id")).agg(max(col("len")).as("max_shared"))
        // detection: d10's kernel verbatim (md5 -> 16B binary windows)
        val wins = sliceDf.filter(size(col("w")) >= W)
          .select(col("doc_id"),
            explode(array_distinct(transform(
              sequence(lit(0), size(col("w")) - W),
              j => unhex(md5(concat_ws(" ", slice(col("w"), j + 1, lit(W)))
                .cast("binary")))))).as("h"))
        val sharedW = wins.groupBy(col("h"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("h"))
        val det = wins.join(sharedW, "h").select(col("doc_id")).distinct()
          .withColumn("hit", lit(1L))
        sliceDf.select(col("doc_id"))
          .join(maxShared, Seq("doc_id"), "left")
          .withColumn("max_shared",
            coalesce(col("max_shared").cast("long"), lit(0L)))
          .join(det, Seq("doc_id"), "left")
          .withColumn("hit", coalesce(col("hit"), lit(0L)))
          .groupBy(col("max_shared"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("hit")).as("n_detected"),
            expr("sum(hit) * 1000000L div count(1)").as("recall_micro"))
          .orderBy(col("max_shared"))
      },
      Some(s"""WITH base AS (
        SELECT doc_id, $wordsSqlDuck AS w FROM documents
      ), lo AS (
        SELECT min(doc_id) + $SubstrAuditMaxId AS hi FROM base
      ), slice AS (
        SELECT doc_id, w FROM base, lo WHERE doc_id < hi AND len(w) > 0
      ), dw AS (
        SELECT doc_id, L, unnest(list_distinct(list_transform(
          range(0, len(w) - L + 1),
          j -> array_to_string(list_slice(w, j+1, j+L), ' ')))) AS sub
        FROM slice, range(1, ${SubstrAuditMaxLen + 1}) t(L)
        WHERE len(w) >= L
      ), sharedsub AS (
        SELECT L, sub FROM dw GROUP BY 1, 2 HAVING count(*) >= 2
      ), mx AS (
        SELECT d.doc_id, max(d.L) AS max_shared
        FROM dw d JOIN sharedsub sh ON d.L = sh.L AND d.sub = sh.sub
        GROUP BY 1
      ), det AS (
        -- literal W-window sharing == the engine's md5-window sharing
        -- (the bijectivity d10's own oracle already rests on)
        SELECT DISTINCT d.doc_id
        FROM dw d JOIN sharedsub sh ON d.L = sh.L AND d.sub = sh.sub
        WHERE d.L = $SubstringWindow
      )
      SELECT CAST(coalesce(mx.max_shared, 0) AS BIGINT) AS max_shared,
        count(*) AS n_docs,
        CAST(count(det.doc_id) AS BIGINT) AS n_detected,
        CAST(count(det.doc_id) * 1000000 // count(*) AS BIGINT)
          AS recall_micro
      FROM slice
      LEFT JOIN mx ON slice.doc_id = mx.doc_id
      LEFT JOIN det ON slice.doc_id = det.doc_id
      GROUP BY 1 ORDER BY 1""")),

    // ---- d25: EMBEDDING-LSH RECALL AUDIT — d21's posture for the
    //      hyperplane-LSH pair channel ([[embeddingPairsLsh]]), the
    //      branch d5/d9/s8 take above [[NearDupBruteMax]] and the one
    //      approximate channel that previously had neither an oracle
    //      nor a graded audit (it is also the branch that runs at any
    //      production scale; the r13 verdict's top item). Ground truth
    //      is the exact all-pairs cosine over a min-anchored constant
    //      slice ([[NdEvalMaxIds]] vec_ids, so the quadratic stays a
    //      <=125k-pair probe forever); found = candidates from the SAME
    //      decision mechanism the production branch runs — the
    //      [[graft.text.Text.planeWeight]] plane family, mean-centered
    //      signing, [[NdBands]] bands, the [[NdMaxBucket]] hot-bucket
    //      cap — at the sf1 production geometry ([[D25Bits]] bits).
    //      Report: recall per cosine-decile band (cos in [0.4..1.0] ->
    //      bands 4..10), grid-anchored so empty bands read as explicit
    //      zero rows. The expected shape is the LSH contract itself:
    //      recall ~1 in the top bands (where near-dup targets live),
    //      decaying toward the 0.4 edge — this query MEASURES that
    //      curve instead of narrating the 1-(1-p^bits)^bands formula.
    //
    //      ORACLE EXACTNESS: candidate generation here is pure integer
    //      arithmetic — vectors quantized to micro units (round(v*1e6)
    //      longs), and the centered sign bit computed in the cleared
    //      form n*(w_p . qv) >= (w_p . qsum) by
    //      [[graft.functions.HyperplaneBandKeys.exactKeys]], which is
    //      exactly sign(dot(qv - mean(qv), plane)) — so the
    //      DuckDB twin reproduces the found-set bit-for-bit (an FP
    //      center would make candidacy hinge on summation order). The
    //      REAL FP branch is graded against this audit's curve in
    //      EmbeddingLshRecallSpec, which forces [[embeddingPairsLsh]]
    //      itself (production n => production geometry) with a
    //      deterministic center and pins its recall per band.
    //
    //      Scale: after the 1-row min(vec_id) lookup and the 1-row
    //      (n, 64 component sums) stats collect (both the d21/d7
    //      bounded-collect class), every stage is slice-bounded —
    //      the audit costs the same at sf0.01 and at 100 TB. d25 is
    //      d26's (D25Bits, NdBands) row plus n_missed
    //      ([[embeddingLshAudit]]).
    "d25_embedding_lsh_recall" -> QueryDef(
      (s, dir) => embeddingLshAudit(s, dir, Seq((D25Bits, NdBands)))
        .select(col("cos_band"), col("n_truth"), col("n_found"),
          (col("n_truth") - col("n_found")).as("n_missed"),
          col("recall_micro")),
      Some(s"""-- integer-exact twin of the audit's candidate channel:
      -- plane weights are graft.text.Text.planeWeight's formula,
      -- centering is the cleared integer form n*(w.qv) >= (w.qsum)
      WITH lo AS (
        SELECT min(vec_id) + $NdEvalMaxIds AS hi FROM embeddings
      ), e AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
        FROM embeddings, lo WHERE vec_id < hi
      ), nn AS (SELECT count(*) AS n FROM e),
      qs AS (
        SELECT d, sum(qv[d + 1]) AS s
        FROM e, range(64) t(d) GROUP BY d
      ), planes AS (
        -- planeWeight: parity of md5("p:d")'s first byte == parity of
        -- its second hex digit
        SELECT p, d,
          CASE WHEN strpos('13579bdf', substr(md5(p || ':' || d), 2, 1)) > 0
            THEN -1 ELSE 1 END AS w
        FROM range(${NdBands * D25Bits}) tp(p), range(64) td(d)
      ), poff AS (
        SELECT p, sum(w * s) AS off FROM planes JOIN qs USING (d)
        GROUP BY p
      ), pdot AS (
        SELECT e.vec_id, pl.p, sum(pl.w * e.qv[pl.d + 1]) AS dt
        FROM e, planes pl GROUP BY 1, 2
      ), bits AS (
        SELECT pd.vec_id, pd.p // $D25Bits AS band,
          CASE WHEN pd.dt * nn.n >= po.off
            THEN CAST(1 AS BIGINT) << (pd.p % $D25Bits)
            ELSE 0 END AS bit
        FROM pdot pd JOIN poff po ON pd.p = po.p CROSS JOIN nn
      ), keys AS (
        SELECT vec_id, band, sum(bit) AS bk FROM bits GROUP BY 1, 2
      ), hot AS (
        SELECT band, bk FROM keys GROUP BY 1, 2
        HAVING count(*) > $NdMaxBucket
      ), capped AS (
        SELECT k.vec_id, k.band, k.bk FROM keys k
        WHERE NOT EXISTS (SELECT 1 FROM hot h
          WHERE h.band = k.band AND h.bk = k.bk)
      ), cands AS (
        SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2, 1 AS hit
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id
      ), truth AS (
        SELECT vec1, vec2,
          CAST(round(cos * 1e6) AS BIGINT) // 100000 AS cband
        FROM (
          SELECT a.vec_id AS vec1, b.vec_id AS vec2,
            round(list_sum(list_transform(list_zip(a.v, b.v),
                x -> x[1] * x[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
               sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        WHERE cos >= $NearDupCosThreshold
      ), agged AS (
        SELECT cband, count(*) AS nt,
          coalesce(sum(hit), 0) AS nf
        FROM truth LEFT JOIN cands USING (vec1, vec2) GROUP BY 1
      ), grid(cband) AS (VALUES (4),(5),(6),(7),(8),(9),(10))
      SELECT CAST(grid.cband AS BIGINT) AS cos_band,
        CAST(coalesce(nt, 0) AS BIGINT) AS n_truth,
        CAST(coalesce(nf, 0) AS BIGINT) AS n_found,
        CAST(coalesce(nt, 0) - coalesce(nf, 0) AS BIGINT) AS n_missed,
        CAST(coalesce(nf, 0) * 1000000 //
          nullif(coalesce(nt, 0), 0) AS BIGINT) AS recall_micro
      FROM grid LEFT JOIN agged USING (cband)
      ORDER BY cos_band"""))
  ) ++ Map(
    // ---- d26: LSH GEOMETRY SWEEP — d25's integer-exact audit run at
    //      EVERY ndBitsFor tier the production channel can reach
    //      ({8,12,16,24} bits), each at both the r14 fixed 12-band
    //      geometry and the r15 scaled ndBandsFor(bits) geometry
    //      ([[D26Geometries]]). This is the committed recall-vs-bits
    //      curve the r14 verdict asked for, as a driver-graded oracle
    //      query: the fixed-band rows MEASURE the recall collapse the
    //      formula predicts as bits grow (the natural corpus's truth
    //      pairs sit at cos 0.4-0.5, where p^bits dies fastest), and
    //      the scaled rows measure what band scaling buys back at the
    //      same bits. The HIGH-cosine half of the curve (0.85-0.99,
    //      where near-dup targets live — absent from the natural
    //      corpus) is graded by the planted-cosine sweep in
    //      EmbeddingLshRecallSpec against the same production
    //      function. Integer-exact like d25 (quantized vectors,
    //      cleared centering inequality), so the twin reproduces every
    //      candidate bit-for-bit; slice-bounded, so the sweep costs
    //      the same at sf0.01 and at 100 TB.
    "d26_lsh_geometry_sweep" -> QueryDef(
      (s, dir) => embeddingLshAudit(s, dir, D26Geometries),
      Some(s"""-- integer-exact twin of d26's per-geometry candidate
      -- channels (one plane family, global plane index p = band*bits+i
      -- per geometry, same md5-parity weights as d25's twin)
      WITH lo AS (
        SELECT min(vec_id) + $NdEvalMaxIds AS hi FROM embeddings
      ), e AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
        FROM embeddings, lo WHERE vec_id < hi
      ), nn AS (SELECT count(*) AS n FROM e),
      qs AS (
        SELECT d, sum(qv[d + 1]) AS s
        FROM e, range(64) t(d) GROUP BY d
      ), geoms AS (
        SELECT * FROM (VALUES ${D26Geometries
          .map { case (b, bd) => s"($b, $bd)" }.mkString(", ")})
          g(bits, bands)
      ), planes AS (
        SELECT g.bits, g.bands, tp.p, td.d,
          CASE WHEN strpos('13579bdf', substr(md5(tp.p || ':' || td.d), 2, 1)) > 0
            THEN -1 ELSE 1 END AS w
        FROM geoms g
        JOIN range(${D26Geometries.map { case (b, bd) => b * bd }.max})
          tp(p) ON tp.p < g.bits * g.bands
        CROSS JOIN range(64) td(d)
      ), poff AS (
        SELECT bits, bands, p, sum(w * s) AS off
        FROM planes JOIN qs USING (d) GROUP BY 1, 2, 3
      ), pdot AS (
        SELECT pl.bits, pl.bands, e.vec_id, pl.p,
          sum(pl.w * e.qv[pl.d + 1]) AS dt
        FROM e, planes pl GROUP BY 1, 2, 3, 4
      ), sbits AS (
        SELECT pd.bits, pd.bands, pd.vec_id, pd.p // pd.bits AS band,
          CASE WHEN pd.dt * nn.n >= po.off
            THEN CAST(1 AS BIGINT) << CAST(pd.p % pd.bits AS INT)
            ELSE 0 END AS bit
        FROM pdot pd
        JOIN poff po ON pd.bits = po.bits AND pd.bands = po.bands
          AND pd.p = po.p
        CROSS JOIN nn
      ), keys AS (
        SELECT bits, bands, vec_id, band, sum(bit) AS bk
        FROM sbits GROUP BY 1, 2, 3, 4
      ), hot AS (
        SELECT bits, bands, band, bk FROM keys GROUP BY 1, 2, 3, 4
        HAVING count(*) > $NdMaxBucket
      ), capped AS (
        SELECT k.bits, k.bands, k.vec_id, k.band, k.bk FROM keys k
        WHERE NOT EXISTS (SELECT 1 FROM hot h
          WHERE h.bits = k.bits AND h.bands = k.bands
            AND h.band = k.band AND h.bk = k.bk)
      ), cands AS (
        SELECT DISTINCT a.bits, a.bands, a.vec_id AS vec1,
          b.vec_id AS vec2, 1 AS hit
        FROM capped a JOIN capped b
          ON a.bits = b.bits AND a.bands = b.bands AND a.band = b.band
            AND a.bk = b.bk AND a.vec_id < b.vec_id
      ), truth AS (
        SELECT vec1, vec2,
          CAST(round(cos * 1e6) AS BIGINT) // 100000 AS cband
        FROM (
          SELECT a.vec_id AS vec1, b.vec_id AS vec2,
            round(list_sum(list_transform(list_zip(a.v, b.v),
                x -> x[1] * x[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
               sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        WHERE cos >= $NearDupCosThreshold
      ), agged AS (
        SELECT g.bits, g.bands, t.cband, count(*) AS nt,
          coalesce(sum(c.hit), 0) AS nf
        FROM truth t CROSS JOIN geoms g
        LEFT JOIN cands c ON c.bits = g.bits AND c.bands = g.bands
          AND c.vec1 = t.vec1 AND c.vec2 = t.vec2
        GROUP BY 1, 2, 3
      ), grid AS (
        SELECT g.bits, g.bands, cb.cband
        FROM geoms g CROSS JOIN range(4, 11) cb(cband)
      )
      SELECT CAST(grid.bits AS BIGINT) AS bits,
        CAST(grid.bands AS BIGINT) AS bands,
        CAST(grid.cband AS BIGINT) AS cos_band,
        CAST(coalesce(nt, 0) AS BIGINT) AS n_truth,
        CAST(coalesce(nf, 0) AS BIGINT) AS n_found,
        CAST(coalesce(nf, 0) * 1000000 //
          nullif(coalesce(nt, 0), 0) AS BIGINT) AS recall_micro
      FROM grid LEFT JOIN agged ON agged.bits = grid.bits
        AND agged.bands = grid.bands AND agged.cband = grid.cband
      ORDER BY bits, bands, cos_band"""))
  ) ++ Map(
    // ---- d27: INCREMENTAL EMBEDDING ADMISSION — d14's delta-vs-index
    //      posture for the embedding channel. The corpus splits into a
    //      persisted INDEX (vec_id % DeltaMod != 0) and a new-ingest
    //      DELTA (vec_id % DeltaMod == 0); each delta vector probes the
    //      index's banded hyperplane keys and is ADMITTED iff no
    //      verified index neighbor reaches NearDupCosThreshold cosine.
    //      At production scale the index side is the persisted banded
    //      table (built once per corpus, here a Materialize); only the
    //      delta is signed per ingest, and the probe is a band-key
    //      equality join against index buckets — never delta x corpus,
    //      never corpus x corpus. Unlike d5/d9/s8's FP-centered
    //      channel, d27 is INTEGER-EXACT end to end (quantized
    //      vectors, cleared centering inequality, geometry derived in
    //      SQL from the same ndBitsFor/ndBandsFor formulas via
    //      [[ndGeometrySqlCase]]) — so the DuckDB twin reproduces the
    //      candidate set bit-for-bit at ANY sf and the query needs no
    //      brute-force validity bound. Admission is defined over the
    //      LSH candidate set (the channel's documented contract: the
    //      design-point cos >= 0.95 recall is ndBandsFor-guaranteed,
    //      sub-design neighbors are probabilistic — graded by
    //      d25/d26).
    "d27_delta_admission" -> QueryDef(
      (s, dir) => deltaAdmission(s, dir),
      Some(s"""WITH e AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
        FROM embeddings
      ), nn AS (
        SELECT count(*) AS n FROM e WHERE vec_id % $DeltaMod <> 0
      ), geom AS (
        SELECT n, ${ndGeometrySqlCase("n")} AS bits FROM nn
      ), geo AS (
        SELECT n, bits, ${ndBandsSqlCase("bits")} AS bands FROM geom
      ), qs AS (
        SELECT d, sum(qv[d + 1]) AS s
        FROM e, range(64) t(d) WHERE vec_id % $DeltaMod <> 0 GROUP BY d
      ), planes AS (
        SELECT tp.p, td.d,
          CASE WHEN strpos('13579bdf',
              substr(md5(tp.p || ':' || td.d), 2, 1)) > 0
            THEN -1 ELSE 1 END AS w
        FROM geo g JOIN range(2048) tp(p) ON tp.p < g.bits * g.bands
        CROSS JOIN range(64) td(d)
      ), poff AS (
        SELECT p, sum(w * s) AS off FROM planes JOIN qs USING (d)
        GROUP BY p
      ), pdot AS (
        SELECT e.vec_id, pl.p, sum(pl.w * e.qv[pl.d + 1]) AS dt
        FROM e, planes pl GROUP BY e.vec_id, pl.p
      ), sbits AS (
        SELECT pd.vec_id, pd.p // g.bits AS band,
          CASE WHEN pd.dt * g.n >= po.off
            THEN CAST(1 AS BIGINT) << CAST(pd.p % g.bits AS INT)
            ELSE 0 END AS bit
        FROM pdot pd JOIN poff po ON pd.p = po.p CROSS JOIN geo g
      ), keys AS (
        SELECT vec_id, band, sum(bit) AS bk FROM sbits
        GROUP BY vec_id, band
      ), hot AS (
        -- bucket cap over the INDEX side only (the persisted table is
        -- what production would cap at build time)
        SELECT band, bk FROM keys WHERE vec_id % $DeltaMod <> 0
        GROUP BY band, bk HAVING count(*) > $NdMaxBucket
      ), cands AS (
        SELECT DISTINCT d.vec_id, i.vec_id AS old_vec
        FROM keys d JOIN keys i
          ON d.band = i.band AND d.bk = i.bk
          AND d.vec_id % $DeltaMod = 0 AND i.vec_id % $DeltaMod <> 0
        WHERE NOT EXISTS (SELECT 1 FROM hot h
          WHERE h.band = d.band AND h.bk = d.bk)
      ), verified AS (
        SELECT c.vec_id, c.old_vec,
          CAST(round(
            list_sum(list_transform(list_zip(a.v, b.v),
              x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             sqrt(list_sum(list_transform(b.v, x -> x*x)))) * 1e6)
            AS BIGINT) AS cos_micro
        FROM cands c
        JOIN e a ON a.vec_id = c.vec_id
        JOIN e b ON b.vec_id = c.old_vec
      ), perdelta AS (
        SELECT vec_id, count(*) AS n_cands,
          count(*) FILTER (WHERE cos_micro >= ${
            (NearDupCosThreshold * 1e6).toLong}) AS n_matches
        FROM verified GROUP BY vec_id
      ), best AS (
        SELECT vec_id, old_vec AS best_match,
          cos_micro AS best_cos_micro
        FROM (SELECT vec_id, old_vec, cos_micro, row_number()
            OVER (PARTITION BY vec_id
              ORDER BY cos_micro DESC, old_vec ASC) AS rn
          FROM verified WHERE cos_micro >= ${
            (NearDupCosThreshold * 1e6).toLong})
        WHERE rn = 1
      )
      SELECT e.vec_id, coalesce(p.n_cands, 0) AS n_cands,
        CAST(coalesce(p.n_matches, 0) = 0 AS BIGINT) AS admitted,
        b.best_match, b.best_cos_micro
      FROM e LEFT JOIN perdelta p USING (vec_id)
      LEFT JOIN best b USING (vec_id)
      WHERE e.vec_id % $DeltaMod = 0
      ORDER BY vec_id""")))

  /** d18's verify core over ANY `(doc_id, bk)` band index and
    * `(doc_id, sh)` shingle frame — candidates by band-key equality,
    * one exact shingle-intersect pass, the integer threshold test
    * (inter·[[ContainDenom]] >= min(n1,n2)·[[ContainNum]]).
    * Parameterized so the spec can drive it with a PLANTED asymmetric
    * pair (subset doc inside a much longer doc — high containment,
    * sub-threshold Jaccard) that the uniform synthetic corpus never
    * produces. */
  /** Distinct ordered candidate pairs from a `(doc_id, bk)` band
    * index: band-key equality, doc1 < doc2. The ONE definition d2's
    * verify and d18's containment both consume — a cap or distinct
    * change here changes both consumers' candidate sets together
    * (d18's "same persisted index" contract). */
  def candidatePairs(capped: DataFrame): DataFrame =
    capped.as("x")
      .join(capped.as("y"),
        col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()

  /** d25/d26's engine: embedding-LSH recall per cosine-decile band at
    * each `(bits, bands)` geometry of `geoms`, over the min-anchored
    * [[NdEvalMaxIds]] slice. Output (bits, bands, cos_band, n_truth,
    * n_found, recall_micro), one row per geometry and cos band 4..10.
    * Keys come from one [[graft.functions.HyperplaneBandKeys.exactKeys]]
    * call per geometry (constant-size generated code each), centered
    * on the slice's integer mean; the geometry rides every bucket key,
    * so the whole sweep is ONE hot-count / anti-join / self-join chain.
    * Every stage after the two 1-row collects is slice-bounded. */
  private def embeddingLshAudit(s: SparkSession, dir: String,
      geoms: Seq[(Int, Int)]): DataFrame = {
    import s.implicits._
    val dims = 64
    val e0 = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), Text.asDouble(col("embedding")).as("v"))
    val hiRow = e0.agg(min(col("vec_id"))).collect().head
    val hi = if (hiRow.isNullAt(0)) Long.MinValue
      else hiRow.getLong(0) + NdEvalMaxIds
    val slice = e0.filter(col("vec_id") < hi)
      .withColumn("qv",
        transform(col("v"), x => round(x * 1e6).cast("long")))
      .withColumn("nrm", Text.norm(col("v")))
      .pipelineCache()
    // one bounded 1-row collect: slice size + 64 quantized sums
    val st = slice.agg(count(lit(1)).as("n"),
      (0 until dims).map(d =>
        sum(element_at(col("qv"), d + 1)).as(s"s$d")): _*)
      .collect().head
    val n = st.getLong(0)
    val qsum = (0 until dims).map(d =>
      if (st.isNullAt(d + 1)) 0L else st.getLong(d + 1))
    // key projection cached BEFORE the explode (the embeddingPairsLsh
    // codegen note); 3 consumers share it
    val keyed = slice.select(col("vec_id"), array(geoms.map {
        case (bits, bands) => struct(lit(bits.toLong).as("bits"),
          lit(bands.toLong).as("bands"),
          graft.functions.HyperplaneBandKeys.exactKeys(col("qv"), bands,
            bits, dims, qsum, n).as("bks"))
      }: _*).as("gs"))
      .pipelineCache()
    val banded = keyed.select(col("vec_id"), inline(col("gs")))
      .select(col("bits"), col("bands"), col("vec_id"),
        explode(col("bks")).as("bk"))
    val gkey = Seq("bits", "bands", "bk")
    val hot = banded.groupBy(gkey.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > NdMaxBucket)
      .select(gkey.map(col): _*)
    val capped = banded.join(broadcast(hot), gkey, "left_anti")
    val cands = capped.as("x").join(capped.as("y"),
        gkey.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.bits").as("bits"), col("x.bands").as("bands"),
        col("x.vec_id").as("vec1"), col("y.vec_id").as("vec2"))
      .distinct()
      .withColumn("hit", lit(1L))
    val truth = slice.as("a")
      .join(slice.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"),
        round(Text.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= NearDupCosThreshold)
      .withColumn("cband",
        expr("cast(round(cos * 1e6) as bigint) div 100000"))
    val geomSpine = geoms.map { case (b, bd) => (b.toLong, bd.toLong) }
      .toDF("bits", "bands")
    val agged = truth.crossJoin(broadcast(geomSpine))
      .join(cands, Seq("bits", "bands", "vec1", "vec2"), "left")
      .groupBy(col("bits"), col("bands"), col("cband"))
      .agg(count(lit(1)).as("nt"),
        coalesce(sum(col("hit")), lit(0L)).as("nf"))
    val grid = geomSpine.crossJoin(
      s.range(4, 11).select(col("id").as("cband")))
    grid.join(agged, Seq("bits", "bands", "cband"), "left")
      .select(col("bits"), col("bands"), col("cband").as("cos_band"),
        coalesce(col("nt"), lit(0L)).as("n_truth"),
        coalesce(col("nf"), lit(0L)).as("n_found"),
        expr("""coalesce(nf, 0L) * 1000000L
          div nullif(coalesce(nt, 0L), 0L)""").as("recall_micro"))
      .orderBy(col("bits"), col("bands"), col("cos_band"))
  }

  /** d27's engine: delta-vs-index embedding admission. The INDEX side
    * (vec_id % [[DeltaMod]] != 0) is the persisted corpus: its banded
    * hyperplane keys (and the geometry + integer centering stats they
    * depend on) build once per corpus behind a Materialize. The DELTA
    * side signs fresh per ingest and probes the index by band-key
    * equality — the per-ingest cost is O(delta · bands) keys against a
    * bucketed table, independent of corpus pair count. Integer-exact
    * throughout (quantized vectors, `dot·n >= offset` centering
    * inequality, md5-parity planes), so the DuckDB twin reproduces the
    * candidate set bit-for-bit at any sf — see the d27 QueryDef. */
  def deltaAdmission(s: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val q = Tables.rebalance(Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), Text.asDouble(col("embedding")).as("v")))
      .withColumn("qv",
        transform(col("v"), x => round(x * 1e6).cast("long")))
      .withColumn("nrm", Text.norm(col("v")))
      .withColumn("is_delta", col("vec_id") % DeltaMod === 0)
      .pipelineCache()
    val st = q.filter(!col("is_delta"))
      .agg(count(lit(1)).as("n"), (0 until dims).map(d =>
        sum(element_at(col("qv"), d + 1)).as(s"s$d")): _*)
      .collect().head
    val n = st.getLong(0)
    val qsum = (0 until dims).map(d =>
      if (st.isNullAt(d + 1)) 0L else st.getLong(d + 1))
    val bits = ndBitsFor(n)
    val bands = ndBandsFor(bits)
    // one kernel pass signs BOTH sides, cached before the explode
    val keys = q.select(col("vec_id"), col("is_delta"),
        graft.functions.HyperplaneBandKeys.exactKeys(col("qv"), bands,
          bits, dims, qsum, n).as("bks"))
      .pipelineCache()
      .select(col("vec_id"), col("is_delta"), explode(col("bks")).as("bk"))
    // persisted-index posture: keys built once per corpus (at
    // production this is the stored banded table)
    val idxKeys = graft.core.Materialize(s, s"d27-index|$dir") {
      keys.filter(!col("is_delta")).select(col("vec_id"), col("bk"))
    }
    val hot = idxKeys.groupBy(col("bk"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > NdMaxBucket)
      .select(col("bk"))
    val cands = keys.filter(col("is_delta"))
      .select(col("vec_id"), col("bk")).as("d")
      .join(idxKeys.join(broadcast(hot), Seq("bk"), "left_anti").as("i"),
        col("d.bk") === col("i.bk"))
      .select(col("d.vec_id").as("vec_id"), col("i.vec_id").as("old_vec"))
      .distinct()
    val vecs = q.select(col("vec_id"), col("v"), col("nrm"))
    val verified = cands.as("c")
      .join(vecs.as("a"), col("c.vec_id") === col("a.vec_id"))
      .join(vecs.as("b"), col("c.old_vec") === col("b.vec_id"))
      .select(col("c.vec_id").as("vec_id"),
        col("c.old_vec").as("old_vec"),
        round(Text.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")) * 1e6).cast("long")
          .as("cos_micro"))
    val t = (NearDupCosThreshold * 1e6).toLong
    val isMatch = col("cos_micro") >= t
    val per = verified.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_cands"),
        sum(isMatch.cast("long")).as("n_matches"),
        max(when(isMatch, struct(col("cos_micro"),
          (-col("old_vec")).as("neg")))).as("bm"))
    q.filter(col("is_delta")).select(col("vec_id"))
      .join(per, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        (coalesce(col("n_matches"), lit(0L)) === 0L).cast("long")
          .as("admitted"),
        (-col("bm.neg")).as("best_match"),
        col("bm.cos_micro").as("best_cos_micro"))
      .orderBy(col("vec_id"))
  }

  /** Bottom-k fingerprint keys, hot-key capped like the band index
    * (a viral shingle's bucket would otherwise go quadratic). */
  private def bottomKeys(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(
      s"""transform(slice(array_sort(array_distinct(
            transform(sh, x -> md5(x)))), 1, $ContainBottomK),
          h -> unhex(h))""")).as("fp"))
      .withColumn("fsz", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("fsz") <= MaxBucket)
      .select(col("doc_id"), col("fp"))

  /** Containment candidate pairs: the d2 band channel UNION the
    * bottom-k channel, materialized once per dir (minhashPairs'
    * lifecycle) and shared by d18 and d22's audit. */
  def containmentCandidates(s: SparkSession, dir: String): DataFrame =
    graft.core.Materialize(s, s"d18-cands|$dir") {
      val docs = shingled(s, dir)
      val keys = bottomKeys(docs)
      val bottom = keys.as("x")
        .join(keys.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      candidatePairs(cappedBanded(s, dir)).unionByName(bottom).distinct()
    }

  def containmentPairs(capped: DataFrame, docs: DataFrame): DataFrame =
    containmentVerify(candidatePairs(capped), docs)

  /** Per-doc shingle fingerprints for the containment intersect: the
    * signature chain's exact 60-bit shingle hash
    * (conv(substr(md5, 1, 15))), as an array. The verify's cost is
    * ~candidates × |sh| hash-set probes, and probing LONGS is several
    * times cheaper than hashing gram strings per probe (guide §4's
    * expression-choice lever; d16/d19's ship-fingerprints-not-strings
    * idiom applied to compute). Distinct shingles keep distinct fps
    * up to a 2^-60 truncated-md5 collision, and the DuckDB twins
    * compute the SAME fingerprints, so engine and oracle stay
    * hash-identical by construction. */
  private def shingleFps(docs: DataFrame): DataFrame =
    // a pure column selection: `docs` is [[shingled]]-shaped (see
    // [[fingerprinted]]), and parquet pruning drops the gram strings
    // at the scan
    docs.select(col("doc_id"), col("n"), col("fp"))

  /** The exact containment verify over ANY ordered candidate-pair
    * frame (integer gate; see d18's doc comment). `docs` carries the
    * [[fingerprinted]] columns `(doc_id, n, fp)`. */
  def containmentVerify(cands: DataFrame, docs: DataFrame): DataFrame = {
    val slim = shingleFps(docs)
    cands
      .join(slim.select(col("doc_id").as("doc1"),
        col("n").as("n1"), col("fp").as("fp1")), "doc1")
      .join(slim.select(col("doc_id").as("doc2"),
        col("n").as("n2"), col("fp").as("fp2")), "doc2")
      .withColumn("inter",
        size(array_intersect(col("fp1"), col("fp2"))).cast("long"))
      .filter(col("inter") * ContainDenom >=
        least(col("n1"), col("n2")) * ContainNum)
      .select(col("doc1"), col("doc2"), col("n1"), col("n2"),
        col("inter"),
        round(col("inter").cast("double") / col("n1"), 6).as("c12"),
        round(col("inter").cast("double") / col("n2"), 6).as("c21"),
        when(col("n1") <= col("n2"), col("doc1")).otherwise(col("doc2"))
          .as("contained_doc"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Embedding near-dup pair table (vec1 < vec2, exact cosine) — the
    * shared core of d5 and d9, materialized like d2's pair table
    * ([[minhashPairs]]) so cluster assignment consumes the checkpoint
    * instead of re-deriving the whole gate + LSH build + rerank (the
    * sf10 rehearsal measured the re-derivation at ~half of d9's 95 s).
    * Brute below [[NearDupBruteMax]] vectors, banded LSH above — the
    * same gate the two queries previously ran independently.
    *
    * `bruteMax` is the brute/LSH gate, a PARAMETER (production default
    * [[NearDupBruteMax]], baked into the production cache key) so
    * specs can force the banded branch on a small corpus without a
    * mutable global; the d25 audit grades the same branch with
    * an oracle. Non-default gates get their own Materialize key so a
    * forced-branch spec never poisons the shared d5/d9/s8 checkpoint. */
  def embeddingPairs(s: SparkSession, dir: String,
      bruteMax: Long = NearDupBruteMax): DataFrame =
    graft.core.Materialize(s, s"d5-pairs|$bruteMax|$dir") {
      // rebalance: the sf vector table is ONE parquet file — without
      // it the whole signature build runs in a single task
      val e = Tables.rebalance(Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), Text.asDouble(col("embedding")).as("v")))
        .withColumn("nrm", Text.norm(col("v")))
        .pipelineCache()
      val n = e.count()
      val pairs = if (n <= bruteMax)
        embeddingPairsBrute(e) else embeddingPairsLsh(e, n)
      pairs
    }

  /** d9's REPLACEMENT CHECK at scales where its brute twin is out of
    * contract (see the d9 oracle note): validates the cluster
    * assignment against the pair table it was built from — every
    * near-dup pair must join two vectors of the SAME cluster, and each
    * cluster's reported size must equal its membership count. Returns
    * the violation count (0 = consistent). Run on the sf1 leg and
    * recorded in PERF.md; DedupSpec pins 0 at test scale. */
  def embeddingClusterViolations(s: SparkSession, dir: String): Long = {
    val cl = defs("d9_embedding_clusters").fn(s, dir)
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
      .pipelineCache()
    val pairs = embeddingPairs(s, dir)
      .filter(col("cos") >= NearDupCosThreshold)
      .select(col("vec1"), col("vec2"))
    val crossCluster = pairs
      .join(cl.select(col("vec_id").as("vec1"),
        col("cluster_id").as("c1")), "vec1")
      .join(cl.select(col("vec_id").as("vec2"),
        col("cluster_id").as("c2")), "vec2")
      .filter(col("c1") =!= col("c2")).count()
    val badSizes = cl.groupBy(col("cluster_id"), col("cluster_size"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") =!= col("cluster_size")).count()
    crossCluster + badSizes
  }

  /** Exact all-pairs cosine (norms precomputed per vector). O(n^2)
    * compares — only for small corpora (see [[NearDupBruteMax]]). */
  def embeddingPairsBrute(e: DataFrame): DataFrame =
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"),
        round(Text.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))

  /** LSH-blocked near-dup candidates + exact rerank:
    * [[ndBandsFor]](bits) bands of [[ndBitsFor]](n) hyperplane sign
    * bits over MEAN-CENTERED vectors; a
    * pair is a candidate iff some band key collides. The band join
    * carries only (vec_id, bk) — vectors join back in for the exact
    * cosine (of the RAW vectors) only on the candidate set. Three scale
    * guards compose:
    *  - centering: raw sign bits over an off-center corpus are heavily
    *    imbalanced (the sf1 rehearsal measured 41% of ALL pairs
    *    surviving as candidates — the hyperplanes barely cut), so the
    *    corpus mean is subtracted before signing. One map-side-combined
    *    64-avg agg, folded into the keys as literals; near-identical
    *    vectors stay near-identical after a shared translation, so
    *    near-dup recall is preserved (approximate-by-design, as before).
    *  - bits-per-band scale with n so EXPECTED bucket occupancy stays
    *    ~[[NdTargetBucket]] (the per-bucket quadratic stays constant),
    *  - hot buckets (> [[NdMaxBucket]]) are dropped via a
    *    map-side-combined count + broadcast anti-join, same guard as d2,
    *    bounding the skew tail the expectation argument can't.
    * Approximate: recall of a pair at CENTERED angular similarity p is
    * 1-(1-p^bits)^bands. `n` is the corpus size the caller already
    * counted for the brute/LSH gate — it is a PARAMETER (not re-counted
    * here) and also sets the band geometry, so a spec can run the
    * production sf1 geometry (bits=8) on a small audit corpus by
    * passing the production n. `centerOverride` replaces the corpus
    * mean (an FP aggregate whose summation order Spark does not pin)
    * with a caller-computed center, making a forced-branch run
    * bit-deterministic for recall pins; production passes None.
    * `bandsOverride` exists ONLY for the geometry-sweep A/B (forcing
    * the r14 fixed-12-band geometry against the scaled one at the
    * same bits); production passes None = [[ndBandsFor]](bits). */
  def embeddingPairsLsh(e: DataFrame, n: Long,
      centerOverride: Option[Seq[Double]] = None,
      bandsOverride: Option[Int] = None): DataFrame = {
    val dims = 64
    val bits = ndBitsFor(n)
    val bands = bandsOverride.getOrElse(ndBandsFor(bits))
    val center = centerOverride.getOrElse {
      val meanRow = e.select((0 until dims).map(i =>
        avg(element_at(col("v"), i + 1)).as(s"m$i")): _*).head()
      (0 until dims).map(meanRow.getDouble)
    }
    // The key projection is persisted BEFORE the explode: a Generate
    // subtree never enters whole-stage codegen, so a generator carrying
    // the bands*bits dot products evaluates them INTERPRETED per row
    // (measured ~30x slower than the same dots in a codegen'd
    // projection). Cache-fill projections DO codegen; after it, the
    // generator is a trivial explode(attribute). The cache also lets the
    // three consumers below (hot-bucket count + both self-join sides)
    // share one signature pass instead of three.
    //
    // The keys come from ONE native expression holding the whole plane
    // family as a flat primitive matrix ([[graft.functions
    // .HyperplaneBandKeys]]) instead of bands × bits composite
    // (graft_dot ≥ offset) terms: the composite tree grows with the
    // corpus (ndBitsFor/ndBandsFor — 48 dots at sf0.1, 165 at sf10) and
    // was the measured signature-build dominator at sf10. Keys are
    // bit-identical (same multiply-add order, same driver-computed
    // offsets, same "band:key" rendering — BandKeysParitySpec).
    val keyed = e
      .select(col("vec_id"),
        graft.functions.HyperplaneBandKeys
          .keys(col("v"), bands, bits, dims, center).as("bks"))
      .pipelineCache()
    val banded = keyed.select(col("vec_id"), explode(col("bks")).as("bk"))
    val hot = banded.groupBy(col("bk"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > NdMaxBucket)
      .select(col("bk"))
    val capped = banded.join(broadcast(hot), Seq("bk"), "left_anti")
    val cands = capped.as("x")
      .join(capped.as("y"),
        col("x.bk") === col("y.bk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec1"), col("y.vec_id").as("vec2"))
      .distinct()
    // Rerank join strategy (guide §3.1), size-gated like the CC driver
    // gate: the candidate stream is O(n · bands · NdTargetBucket) slim
    // pairs while the vector side is n rows — far over the 10 MB
    // auto-broadcast estimate, so the planner sort-merge-joins, paying
    // TWO full shuffles (+ sorts) of the candidate stream keyed by
    // vec1 then vec2. Below [[NdRerankBroadcastMaxVectors]] the vector
    // frame is broadcast instead (≤ ~256 MB built relation at the
    // gate: 64 doubles + id + norm per row), so candidates flow
    // map-side from the band join straight into both hash lookups —
    // zero pair-stream shuffles after the distinct. Above the gate the
    // planner's sort-merge stands (a 100-TB vector table must not be
    // broadcast). Join results are strategy-independent; the gate only
    // picks the physical plan.
    val eSlim = (idAs: String, vAs: String, nAs: String) => {
      val s = e.select(col("vec_id").as(idAs), col("v").as(vAs),
        col("nrm").as(nAs))
      if (n <= NdRerankBroadcastMaxVectors) broadcast(s) else s
    }
    cands
      .join(eSlim("vec1", "v1", "n1"), "vec1")
      .join(eSlim("vec2", "v2", "n2"), "vec2")
      .select(col("vec1"), col("vec2"),
        round(Text.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
          .as("cos"))
  }
}
