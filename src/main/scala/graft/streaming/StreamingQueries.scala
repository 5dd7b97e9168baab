package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryDef
import graft.sources.Tables

/** Harness-visible Structured-Streaming queries: each runs a REAL
  * streaming query (parquet file source → Trigger.AvailableNow →
  * idempotent per-batch parquet sink) and returns the sink's contents,
  * so the DuckDB oracle checks the stream's output
  * value-exactly against the batch SQL answer. This pins the
  * batch/stream unification contract end-to-end — not just "a streaming
  * variant exists" (the §2.13 specs) but "the stream computes the same
  * answer as the warehouse would".
  *
  * Scale notes (the reason each shape is 100-TB-safe):
  *  - st1: watermarked append-mode windowed aggregation — state is
  *    OPEN day windows only (O(#event_types × 1-2 days), bounded by
  *    the watermark, independent of stream lifetime); closed days emit
  *    exactly once; sums are decimal-accumulated so the answer is
  *    batch-identical regardless of micro-batch boundaries.
  *  - st2: `session_window` keeps state per OPEN session only; the
  *    watermark closes and emits sessions exactly once (append mode).
  *    Emission is watermark-gated, so the oracle filters to sessions
  *    the final watermark (max event time - delay) has passed — the
  *    same answer any executor count or batch split produces.
  *  - st3: streaming dropDuplicates keys state by the 128-bit content
  *    fingerprint only (no document bodies in the state store). The
  *    state grows with the number of distinct documents: st3 sets no
  *    watermark, so no key is ever evicted.
  *  - st4: stateless projection — no state store at all; a stream and
  *    its batch backfill are identical by construction.
  */
object StreamingQueries {

  /** Compressed input bytes per stream shuffle/state partition. AQE is
    * DISABLED for stateful streaming (Spark refuses to re-plan a state
    * shuffle), so the batch path's "let AQE coalesce the excess"
    * posture does not exist here: whatever `spark.sql.shuffle.partitions`
    * says at stream start is pinned into the checkpoint for the query's
    * lifetime, and EVERY micro-batch — including the final no-data
    * batch that advances the watermark — schedules one task per state
    * partition, each paying a state-store open + version commit (file
    * IO) even when its state is empty. Measured at sf0.1 (st_profile,
    * warm): the empty finalization batch alone cost 0.65-0.77 s at the
    * session default of 32 partitions — pure idle-state-commit
    * overhead on KB of state. So the stream harness derives the
    * partition count from the source's file bytes (the same
    * size-derived rule AQE would apply), bounded above by the session
    * setting so a cluster-sized configuration is never exceeded and
    * large inputs keep their parallelism: a 100-TB ingest saturates
    * the bound, a KB-state bench stream stops paying 32 idle commits
    * per batch.
    *
    * The 256 KiB target is MEASURED, not guessed: the divisor is
    * compressed columnar bytes while stream work is per-row compute on
    * decompressed rows (PII regexes, shingle hashing — a 10-20x
    * expansion), so IO-sized targets starve compute. Grid at sf1
    * (parquet sink, single-run legs): 8 MiB regressed the st family
    * ~12% vs the fixed-32 baseline (72 -> 83 s; docs streams fell to 1
    * partition), 256 KiB beat it (69.5 s); at sf0.1 (the driver's
    * bench scale) 256 KiB also beat 8 MiB (13.7 vs 16.3 s vs 20.4
    * baseline, median-of-3). */
  final val StreamPartBytes = 256L << 10

  /** Size-derived stream partition suggestion, recorded by
    * [[streamTable]] for [[runStream]] to apply at start.
    *
    * THREAD-LOCAL relay (r15 verdict #6 / ADVICE): the previous
    * `graft.stream.suggestedPartitions` session-conf handoff was a
    * read-modify-write on shared session state — fine in the serial
    * bench, last-wins-wrong for two streams built concurrently in a
    * Server context, and never cleared after use. Each stream is built
    * and started on one thread (streamTable → stNStream → runStream),
    * so a thread-local carries the suggestion exactly one hop and
    * [[runStream]] clears it on read. A query reading two stream
    * tables would keep the LAST table's suggestion (same as before —
    * no current query does). */
  private val suggestedParts = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  private def suggestStreamParts(s: SparkSession, bytes: Long): Unit = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(Int.MaxValue)
    val parts = math.max(1L, math.min(cap.toLong,
      (bytes + StreamPartBytes - 1) / StreamPartBytes))
    suggestedParts.set(Some(parts))
  }

  /** Stream a scale-factor parquet table through the file source.
    * Schema comes from the batch catalog ([[Tables.table]]), and the
    * dual-vintage events-ts dispatch IS the batch catalog's — one
    * shared [[Tables.normalizeEventsTs]], so the two paths can't drift;
    * `maxFilesPerTrigger=1` keeps the source honest about
    * micro-batching when a table has several files. */
  private def streamTable(s: SparkSession, dir: String, name: String): DataFrame = {
    // the file source wants a directory: stream the sf dir, glob-filtered
    // to this table's file(s)
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/$name.parquet").schema
    suggestStreamParts(s, Tables.fileBytes(dir, name))
    val src = s.readStream.schema(raw).option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    if (name == "events") Tables.normalizeEventsTs(src) else src
  }

  /** Run `df` as an append-mode streaming query until all available
    * input is processed (Trigger.AvailableNow, which also runs the final
    * no-data batch that advances the watermark and flushes closed
    * windows), then return the sink contents.
    *
    * The sink is what production runs: foreachBatch writing each
    * micro-batch to a scratch parquet dir under
    * [[graft.core.Materialize.scratchDir]] (executor-side IO, nothing
    * collected through the driver), returned as a plain parquet read.
    * The oracle reads the same frame as every other query. A memory sink
    * would hold every result in the driver for the life of the JVM, and
    * at sf10 it was also the slower harness (st2 34.7 → 13.9 s, st8
    * 31.1 → 7.3 s with this sink, PERF.md). */
  private def runStream(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // Apply the size-derived partition suggestion (see
    // [[StreamPartBytes]]) on a CLONED session: the value is
    // snapshotted into the checkpoint at stream start, so it must be
    // in force before .start() — but lowering the ORIGINAL session's
    // shuffle partitions for the stream's lifetime planned any
    // concurrent batch work with reduced parallelism (r15 ADVICE).
    // cloneSession copies all session state (incl. the nanosAsLong
    // flag streamTable may have set) into an isolated SQLConf; the
    // stream plan is re-bound to the clone, and nothing shared is
    // mutated. Never raises above the session setting (min with the
    // session value); no suggestion (a stream built without
    // streamTable) runs on the original session unchanged.
    val suggestion = suggestedParts.get(); suggestedParts.remove()
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions").toIntOption
    val applied = for {
      p <- suggestion; cap <- sessionParts; if p < cap
    } yield p
    applied match {
      case Some(p) =>
        val s2 = org.apache.spark.sql.GraftExpressionBridge
          .cloneSession(spark)
        s2.conf.set("spark.sql.shuffle.partitions", p.toString)
        val df2 = org.apache.spark.sql.GraftExpressionBridge
          .withSession(s2, df)
        runToParquet(df2, s2)
      case None => runToParquet(df, spark)
    }
  }

  private def runToParquet(df: DataFrame, spark: SparkSession): DataFrame = {
    val dir = graft.core.Materialize.scratchDir()
    // foreachBatch is AT-LEAST-ONCE: a micro-batch re-executed after a
    // task/executor failure must not double-append. Each batch
    // overwrites its own batchId-keyed subdir, so a retry replaces its
    // previous attempt — idempotent without a transactional sink
    val write: (DataFrame, Long) => Unit = (batch, id) =>
      batch.write.mode("overwrite").parquet(s"$dir/b$id")
    val q = df.writeStream.foreachBatch(write)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // an empty stream never fires foreachBatch: no subdirs → typed empty
    val wrote = new java.io.File(dir).listFiles().exists(_.isDirectory)
    if (wrote) spark.read.schema(df.schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      df.schema)
  }

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(25,6)"))
  private def money(c: org.apache.spark.sql.Column) =
    round(dsum(c).cast("double"), 2)

  val SessionGapSec = 1800L

  /** st9: relative deviation of a day's per-type mean from the batch
    * baseline above which the day is flagged as drifting (0.15 sits at
    * ~p80 of the synthetic events' daily deviations — flags the tail,
    * not the noise floor). */
  val DriftTol = 0.15

  /** st5 eval subset: denser than batch d7's every-50th (every 10th
    * doc) so the contamination flags have hits to count at small sf. */
  val StreamEvalMod = 10

  /** st5 stream side (exposed for the state-contract spec): the
    * training stream flags docs sharing n-grams with the eval set as a
    * STATELESS row-local projection. A doc's distinct n-grams are
    * row-local before any explode, so the count happens inside the row
    * via the native [[graft.functions.SetMemberCount]] probe against a
    * broadcast of the eval set's distinct n-grams — no stream-side
    * aggregation, no state store, `append` output mode. (The previous
    * `explode → stream-static join → groupBy(doc_id)` shape kept one
    * complete-mode state row per flagged doc FOREVER and re-emitted the
    * whole result table every trigger — a scale-killer on a real
    * unbounded ingest.) The eval side stays benchmark-sized by
    * construction (an eval suite, not a corpus), so collecting its
    * distinct n-grams into a broadcast is the same static-side-as-
    * driver-constant move st6 makes with the centroid index. */
  /** st1 stream side (exposed for the state-contract spec): the daily
    * rollup as a WATERMARKED append-mode windowed aggregation. The
    * 0-second watermark tracks max event time, so a day window closes
    * (emits once, state row evicted) as soon as a later-day event
    * arrives; state at any instant is the OPEN windows only —
    * O(#event_types × 1-2 days) regardless of how long the stream has
    * been running. */
  /** st2 stream side: session_window sessionization (append,
    * watermark-gated emission) — named so StreamingPlanSpec can gate
    * the micro-batch plan like every other st frame. */
  private[streaming] def st2Stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    StreamingSessions.sessionize(
      streamTable(s, dir, "events").select($"user_id", $"ts"),
      "30 minutes", "0 seconds")
  }

  /** st3 stream side: streaming exact-dedup via dropDuplicates
    * (state = fingerprint keys only). */
  private[streaming] def st3Stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    streamTable(s, dir, "documents")
      .select(md5($"text").as("fingerprint"))
      .dropDuplicates("fingerprint")
  }

  /** st4 stream side: stateless quality gate + PII scrub. */
  private[streaming] def st4Stream(s: SparkSession, dir: String): DataFrame =
    StreamingQuality.qualityScrub(streamTable(s, dir, "documents"))

  /** st9 stream side: baseline-enriched watermarked daily drift agg
    * (the baseline rides in the grouping key — no post-aggregation
    * join, which streaming forbids). */
  private[streaming] def st9Stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the baseline is a static artifact of the corpus snapshot;
    // materialized because a stream-static join re-evaluates the
    // static side's plan EVERY micro-batch — without the checkpoint
    // each batch (including the empty watermark-finalization batch)
    // re-aggregated the whole events table to rebuild the broadcast,
    // which is also exactly what a production drift monitor pins:
    // the baseline must NOT drift with the stream it grades
    val base = graft.core.Materialize(s, s"st9-baseline|$dir") {
      Tables.table(s, dir, "events")
        .groupBy($"event_type")
        .agg((dsum($"value").cast("double") /
          count(lit(1))).as("base_mean"))
    }
    val enriched = streamTable(s, dir, "events")
      .withWatermark("ts", "0 seconds")
      .join(broadcast(base), "event_type")
    enriched
      .groupBy(window($"ts", "1 day"), $"event_type", $"base_mean")
      .agg(count(lit(1)).as("n_events"),
        (dsum($"value").cast("double") / count(lit(1))).as("mean_raw"))
      .withColumn("rel_dev",
        round(abs($"mean_raw" - $"base_mean") / abs($"base_mean"), 6))
      .select($"window.start".cast("date").as("day"), $"event_type",
        $"n_events", round($"mean_raw", 6).as("mean_value"),
        round($"base_mean", 6).as("base_mean"), $"rel_dev",
        ($"rel_dev" > DriftTol).cast("long").as("drift"))
  }

  private[streaming] def st1Stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    streamTable(s, dir, "events")
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n_events"), money($"value").as("sum_value"))
      .select($"window.start".cast("date").as("day"), $"event_type",
        $"n_events", $"sum_value")
  }

  /** Materialized DISTINCT stream-eval n-gram set `(g)` — the
    * [[graft.dedup.DedupQueries.evalGramSet]] twin for the denser
    * [[StreamEvalMod]] subset st5/st10 probe. Materialization doubles
    * as the explode barrier the old in-stream persist provided
    * (InferFiltersFromGenerate cannot push the Generate's size guard
    * below the rebalance when the chain is computed once into
    * parquet), and makes [[graft.dedup.EvalGrams.rowProbe]]'s gate
    * count a parquet-metadata read. */
  private[streaming] def streamEvalGramSet(
      s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DecontamN
    import graft.text.Text
    graft.core.Materialize(s, s"st-evalgrams|$dir") {
      Tables.rebalance(
          Tables.table(s, dir, "documents")
            .filter(col("doc_id") % StreamEvalMod === 0))
        // words aliased BEFORE the shingle HOF: an inline words(text)
        // referenced by the transform lambda re-runs the regexp per
        // element (the LshBandKeys lesson; measured 3.3x on d19)
        .select(Text.words(col("text")).as("w"))
        .select(explode(Text.wordShingles(col("w"), DecontamN)).as("g"))
        .distinct()
    }
  }

  private[streaming] def st5Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DecontamN
    import graft.text.Text
    val isEval = col("doc_id") % StreamEvalMod === 0
    // EvalGrams-gated probe: exact collected array below the gate (a
    // real eval suite's production shape), bloom probe above it (the
    // rehearsal shape; stream-side counts are then fpp-bounded
    // OVERestimates — flags stay conservative, see EvalGrams scaladoc)
    val probe = graft.dedup.EvalGrams.rowProbe(streamEvalGramSet(s, dir))
    // a one-file source yields one input partition; spread the
    // interpreted shingle HOF across cores (the streaming analogue of
    // Tables.rebalance — a stateless shuffle, and a no-op cost at
    // production split counts, where the source is many files).
    // NOTE: deliberately NO stream-side filter on the count — alias
    // substitution would push `SetMemberCount(chain) > 0` below the
    // repartition and evaluate the whole chain twice at scan
    // parallelism (same pathology as the eval side). The n > 0 gate is
    // applied batch-side after the sink; a production deployment puts
    // it in foreachBatch for the same single-evaluation plan.
    streamTable(s, dir, "documents").filter(!isEval)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .select(col("doc_id"),
        probe(Text.wordShingles(col("w"), DecontamN))
          .as("n_shared_ngrams"))
  }

  /** st6 stream side (exposed for the state-contract spec): semantic
    * flagging as a stateless row-local projection. The k-means index
    * (K×Dims micro-quantized integers) collects into the native
    * [[graft.functions.NearestCentroid]] expression — ONE codegen'd
    * O(K·Dims) loop per row replacing the previous interpreted O(K²)
    * `when`-chain over `aggregate(zip_with(...))` folds (fine at K=4,
    * a compile-sized expression tree at a production K=1024). The
    * arithmetic (half-up micro quantization, exact-Long distances and
    * dot products, the `ORDER BY dist, k` tie-break, double cosine) is
    * byte-identical to the batch d11 assignment and its DuckDB twin —
    * pinned by StreamingQueriesSpec's stream-vs-d11 test. */
  private[streaming] def st6Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.SimilarityQueries.Dims
    val tau = graft.dedup.DedupQueries.SemDedupTau
    val centRows = graft.sim.SimilarityQueries
      .kmeansCentroids(s, dir).collect()
    val byK = centRows.groupBy(_.getLong(0).toInt)
    val cents: Array[Array[Long]] =
      (0 until byK.size).toArray.map { k =>
        val a = new Array[Long](Dims)
        byK(k).foreach(r => a(r.getInt(1)) = r.getLong(2))
        a
      }
    val nc = graft.functions.NearestCentroid.assign(col("embedding"), cents)
    streamTable(s, dir, "embeddings")
      .withColumn("nc", nc)
      .withColumn("cos_centroid",
        floor(col("nc.cos") * 1e6 + lit(0.5)) / 1e6)
      .select(col("vec_id"), col("nc.cluster").as("cluster"),
        col("cos_centroid"),
        (col("cos_centroid") >= tau).cast("long").as("in_core"))
  }

  /** st7 stream side (exposed for the state-contract spec): fuzzy
    * contamination flags, same stateless row-local shape as [[st5Stream]]
    * — each doc's LSH band keys (native codegen'd
    * [[graft.functions.MinHashSignature]] + md5 banding) stay an array
    * in the row and are probed against the broadcast eval-key set with
    * [[graft.functions.SetMemberCount]]. Band keys are band-index-
    * prefixed, so the per-doc array is duplicate-free and the count
    * equals the old join's per-doc match count. */
  private[streaming] def st7Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.{MinhashK, Bands, Rows}
    import graft.text.Text
    val isEval = col("doc_id") % StreamEvalMod === 0
    def keyed(df: DataFrame): DataFrame = df
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), Text.bandKeys(
        Text.minhash(Text.wordShingles(col("w"), 2), MinhashK),
        Bands, Rows).as("bks"))
    // persist barrier before the explode — same rationale as st5Stream:
    // keeps InferFiltersFromGenerate's size() guard (and the explode)
    // reading the computed bks column instead of re-deriving the
    // shingle→minhash→banding chain beneath the rebalance
    val evalBks = keyed(Tables.rebalance(
        Tables.table(s, dir, "documents").filter(isEval))).persist()
    val evalKeys: Array[String] =
      try evalBks.select(explode(col("bks")).as("bk")).distinct()
        .collect().map(_.getString(0))
      finally evalBks.unpersist()
    val bc = s.sparkContext.broadcast(evalKeys)
    // no stream-side filter on the count — see st5Stream's note
    keyed(streamTable(s, dir, "documents").filter(!isEval)
        .repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"),
        graft.functions.SetMemberCount.countIn(col("bks"), bc)
          .as("n_band_hits"))
  }

  /** st8 stream side (exposed for the state-contract spec): incremental
    * dedup admission — d14's stream front, and the one st-family member
    * whose static side CANNOT collapse into a broadcast set: the
    * persisted LSH band index covers the WHOLE corpus (d14's
    * materialized [[graft.dedup.DedupQueries.cappedBanded]] artifact,
    * hot-bucket cap included), so the stream probes it with a
    * stream-STATIC equi-join — stateless on the stream side (no state
    * store; the static side is a parquet scan Spark re-plans per
    * micro-batch, shuffle-partitioned or broadcast by size as Catalyst
    * chooses). Each arriving doc computes its band keys ROW-LOCALLY
    * (native MinHashSignature + LshBandKeys — the st7 lesson), then
    * `explode_outer` + left join keeps novel docs (and <2-word docs,
    * whose band-key array is empty) in-frame with a null match.
    * Emitted rows are (doc_id, old_doc-or-null) candidate hits; the
    * per-doc admission decision (count/first/is_novel) happens
    * batch-side after the sink — in production a foreachBatch step,
    * which is exact because a doc's candidate rows all land in its own
    * micro-batch. Est/exact-Jaccard rerank of admitted candidates stays
    * batch d14's job (the flag-now/resolve-later split st6/st7 use). */
  private[streaming] def st8Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.{Bands, DeltaMod, MinhashK, Rows}
    import graft.text.Text
    val isDelta = col("doc_id") % DeltaMod === 0
    val index = graft.dedup.DedupQueries.cappedBanded(s, dir)
      .filter(col("doc_id") % DeltaMod =!= 0)
      .select(col("bk"), col("doc_id").as("old_doc"))
    streamTable(s, dir, "documents").filter(isDelta)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .select(col("doc_id"),
        when(size(col("w")) >= 2,
          Text.bandKeys(
            Text.minhash(Text.wordShingles(col("w"), 2), MinhashK),
            Bands, Rows))
          .otherwise(array().cast("array<string>")).as("bks"))
      // the persisted index stores band keys as binary(16) md5 digests;
      // unhex AFTER the explode (row-local scalar, codegen'd — a
      // transform() over the array would fall out of codegen). NULL
      // from explode_outer stays NULL: <2-word docs keep their null
      // match row
      .select(col("doc_id"), explode_outer(col("bks")).as("bk0"))
      .select(col("doc_id"), unhex(col("bk0")).as("bk"))
      .join(index, Seq("bk"), "left_outer")
      .select(col("doc_id"), col("old_doc"))
  }

  /** st10 stream side (exposed for the state-contract spec): the
    * composed pipeline's streaming ADMISSION front — e1's per-doc
    * ledger for continuously-arriving delta docs, every stage reusing
    * the standalone operator's kernel:
    *
    *  - quality: t2's shared scorer ([[graft.text.TextQueries.qualityOf]])
    *    as a row-local projection, gated at e1's
    *    [[graft.pipeline.PipelineQueries.PipelineMinQuality]];
    *  - exact-dup admission: e1/d1's normalized-text fingerprint,
    *    probed against the EXISTING corpus's materialized distinct-fp
    *    index via a stateless stream-static left join — d14/st8's
    *    admission shape (the index is the persisted artifact a
    *    production job probes; it cannot broadcast at 100 TB, the
    *    join shuffles 16-byte fps only);
    *  - decontamination: st5's row-local [[graft.dedup.EvalGrams]]-gated
    *    probe (exact collected set below the gate, bloom above) against
    *    the materialized [[StreamEvalMod]] eval gram set;
    *  - split + admit: e1's row-local hash split and keep rule.
    *
    * No watermark, no state store, no stream-side aggregation: append
    * mode, O(doc) work per arrival at any stream lifetime. Delta-vs-
    * delta dups are batch d1/d14's job on the next snapshot — the
    * flag-now/resolve-later split st6/st7/st8 use. */
  private[streaming] def st10Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.{DecontamN, DeltaMod,
      SplitTrainFrac, SplitValFrac}
    import graft.pipeline.PipelineQueries.PipelineMinQuality
    import graft.text.{Text, TextQueries}
    val isDelta = col("doc_id") % DeltaMod === 0
    val isEval = col("doc_id") % StreamEvalMod === 0
    // persisted corpus fingerprint index (distinct fps of non-delta
    // docs) — materialized once like d14's band index
    val fpIndex = graft.core.Materialize(s, s"st10-fps|$dir") {
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") % DeltaMod =!= 0)
        .select(md5(Text.normText(col("text"))).as("fp"))
        .filter(col("fp").isNotNull).distinct()
    }
    // eval n-gram probe — st5's gated static side: exact collected
    // array below EvalGrams.ExactMax, bloom probe above it, off the
    // shared materialized stream-eval gram set (so the sf100 rehearsal
    // measures the production shape instead of collecting a synthetic
    // corpus-proportional eval set into the driver)
    val probe = graft.dedup.EvalGrams.rowProbe(streamEvalGramSet(s, dir))
    admissionFrame(
      streamTable(s, dir, "documents").filter(isDelta && !isEval)
        .repartition(s.sparkContext.defaultParallelism),
      fpIndex, probe)
  }

  /** The admission RULE of st10, factored over any (stream or batch)
    * docs frame: quality gate → exact-dup probe against the supplied
    * fingerprint index → contamination probe → leakage-safe split →
    * admit. Extracted so AdmissionPropSpec can drive it with random
    * batch corpora and synthetic indexes (idempotence: re-admitting an
    * admitted batch against the grown index is a no-op), while
    * st10Stream applies the IDENTICAL rule to the live stream. */
  private[streaming] def admissionFrame(docs: DataFrame,
      fpIndex: DataFrame, probe: Column => Column): DataFrame = {
    import graft.dedup.DedupQueries.{DecontamN,
      SplitTrainFrac, SplitValFrac}
    import graft.pipeline.PipelineQueries.PipelineMinQuality
    import graft.text.{Text, TextQueries}
    val u = (conv(substring(md5(col("fp").cast("binary")), 1, 15),
      16, 10).cast("long") % 1000L).cast("double") / 1000.0
    TextQueries.qualityOf(docs)
      .withColumn("passed_quality",
        when(col("quality_score") >= PipelineMinQuality, 1L).otherwise(0L))
      .withColumn("fp", md5(Text.normText(col("text"))))
      // coalesce: a null-text doc has NO grams (probe yields NULL, the
      // SetMemberCount/BloomMemberCount null-array contract) — it is
      // uncontaminated, matching the oracle's join shape (cont.doc_id
      // IS NOT NULL can never be NULL) and keeping `admit` two-valued
      .withColumn("contaminated",
        (coalesce(probe(Text.wordShingles(col("w"), DecontamN)), lit(0L))
          > 0L).cast("long"))
      .withColumn("split",
        when(u < SplitTrainFrac, "train")
          .when(u < SplitTrainFrac + SplitValFrac, "val")
          .otherwise("test"))
      .join(fpIndex.withColumn("hit", lit(1L)), Seq("fp"), "left_outer")
      .withColumn("is_exact_dup", coalesce(col("hit"), lit(0L)))
      .withColumn("admit",
        (col("passed_quality") === 1L && col("is_exact_dup") === 0L &&
          col("contaminated") === 0L).cast("long"))
      .select(col("doc_id"), col("quality_score"), col("passed_quality"),
        col("is_exact_dup"), col("contaminated"), col("split"),
        col("admit"))
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- st1: streaming daily event rollup — watermarked APPEND mode
    // (st9's pattern). State = open day windows only (types × 1-2
    // days), so state is bounded by the watermark and independent of
    // stream LIFETIME — the previous complete-mode form kept one state
    // row per (day, type) forever and re-emitted the whole result
    // table every trigger. Each closed day emits exactly once; the
    // oracle mirrors the emission gate (the final partial day stays
    // open and is not emitted — st2/st9's gate semantics).
    "st1_stream_event_rollup" -> QueryDef(
      (s, dir) => {
        runStream(st1Stream(s, dir))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""WITH d AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
          round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 2)
            AS sum_value
        FROM events GROUP BY 1, 2
      )
      SELECT day, event_type, n_events, sum_value FROM d
      -- emission gate: only day windows the final watermark (max ts)
      -- closed are emitted; the last partial day stays open
      WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <=
        (SELECT max(ts) FROM events)
      ORDER BY day, event_type""")),

    // ---- st2: streaming sessionization (session_window, append mode,
    // watermark-gated emission). The oracle mirrors BOTH semantics that
    // differ from batch q24: the half-open session close (new session
    // when the gap is >= 30 min, exact microseconds) and the emission
    // gate (only sessions whose end the final watermark passed are out).
    "st2_stream_sessions" -> QueryDef(
      (s, dir) => runStream(st2Stream(s, dir)),
      Some(s"""WITH g AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= ${SessionGapSec}000000
            THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
          SELECT user_id, ts,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS session_no
          FROM g
        ), agg AS (
          SELECT user_id, min(ts) AS session_start,
            max(ts) + INTERVAL $SessionGapSec SECOND AS session_end,
            count(*) AS n_events
          FROM sess GROUP BY user_id, session_no
        )
        SELECT user_id, session_start, session_end, n_events FROM agg
        WHERE session_end <= (SELECT max(ts) FROM events)
        ORDER BY user_id, session_start""")),

    // ---- st3: streaming exact-dedup — distinct content fingerprints
    // via streaming dropDuplicates (state = fingerprint keys only)
    "st3_stream_distinct_docs" -> QueryDef(
      (s, dir) => runStream(st3Stream(s, dir)),
      Some("SELECT DISTINCT md5(text) AS fingerprint FROM documents")),

    // ---- st4: streaming quality gate + PII scrub (stateless pass)
    "st4_stream_quality_scrub" -> QueryDef(
      (s, dir) => runStream(st4Stream(s, dir)),
      Some(s"""WITH d AS (
          SELECT doc_id, text,
            regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents
        ), f AS (
          SELECT doc_id, text,
            CAST(len(w) AS BIGINT) AS n_words,
            round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
            round(CAST(len(list_filter(w, x -> x IN (${graft.text.TextQueries.enStopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / greatest(len(w), 1), 6) AS stop_ratio
          FROM d
        ), q AS (
          SELECT doc_id, text, n_words,
            floor((least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4 +
                  (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3 +
                  least(stop_ratio * 5.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6 AS quality_score
          FROM f
        )
        SELECT doc_id, n_words, quality_score,
          CAST(CASE WHEN quality_score >= ${StreamingQuality.MinQuality} THEN 1 ELSE 0 END AS BIGINT) AS keep,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
            '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PHONE]', 'g') AS scrubbed
        FROM q ORDER BY doc_id""")),

    // ---- st5: streaming benchmark decontamination — a STATELESS
    // row-local flag: each training doc's distinct n-grams are probed
    // in-row against the broadcast eval n-gram set (native
    // SetMemberCount — O(|set|) build once per executor, O(n-grams)
    // per doc), so the query is projection + filter in append mode: no
    // state store, no per-trigger re-emission, O(stream n-grams) work
    // regardless of corpus size. At 100 TB the eval set stays
    // benchmark-sized (an eval suite, not a corpus), so the broadcast
    // side is constant.
    "st5_stream_decontaminate" -> QueryDef(
      (s, dir) => {
        runStream(st5Stream(s, dir))
          .filter(col("n_shared_ngrams") > 0).orderBy(col("doc_id"))
      },
      // d7's oracle restricted to contaminated docs (the oracle's inner
      // join emits exactly the docs the stream's n > 0 filter keeps,
      // and its per-doc match count equals the in-row membership count
      // because a doc's shingles are distinct)
      Some(s"""WITH g AS (
        SELECT doc_id,
          unnest(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= ${graft.dedup.DedupQueries.DecontamN} THEN
            list_distinct(list_transform(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')) - ${graft.dedup.DedupQueries.DecontamN - 1}),
              j -> array_to_string(list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), j+1, j+${graft.dedup.DedupQueries.DecontamN}), ' ')))
          ELSE [] END) AS g
        FROM documents
      ), e AS (
        SELECT DISTINCT g FROM g WHERE doc_id % $StreamEvalMod = 0
      )
      SELECT g.doc_id, count(*) AS n_shared_ngrams
      FROM g JOIN e USING (g)
      WHERE g.doc_id % $StreamEvalMod <> 0
      GROUP BY 1 ORDER BY doc_id""")),

    // ---- st6: streaming semantic-redundancy flagging — d11's stream
    // front. The k-means index (s4's materialized centroid build,
    // shared with s4/s5/s7/d11) is K×Dims integers BY CONSTRUCTION, so
    // the static side collapses into the native NearestCentroid
    // expression's state: each arriving vector gets its assignment and
    // integer-exact cosine-to-centroid from ONE codegen'd O(K·Dims)
    // row-local loop — a stateless projection, no state store, no
    // stream-side shuffle, at any stream rate and any K. Vectors in a
    // cluster core (cos >= SemDedupTau) are flagged as
    // semantic-duplicate CANDIDATES; picking the one representative is
    // inherently a batch decision (a stream cannot know a cluster's
    // future best member), so that stays in d11 — the same
    // flag-now/resolve-later split production dedup pipelines use.
    "st6_stream_semantic_flag" -> QueryDef(
      (s, dir) => {
        runStream(st6Stream(s, dir)).orderBy(col("vec_id"))
      },
      // d11's oracle chain minus the representative rank: assignment +
      // integer sums + the same double cosine, flag only
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
      )
      SELECT vec_id, k AS cluster,
        floor(cosr * 1e6 + 0.5) / 1e6 AS cos_centroid,
        CAST(floor(cosr * 1e6 + 0.5) / 1e6 >=
          ${graft.dedup.DedupQueries.SemDedupTau} AS BIGINT) AS in_core
      FROM scored ORDER BY vec_id""")),

    // ---- st7: streaming fuzzy-contamination flagging — d12's stream
    // front, st5's MinHash analogue. The eval subset's LSH band keys
    // (d2's exact signature arithmetic) form a small broadcast set;
    // each arriving training doc computes its own 64-hash signature
    // and band keys ROW-LOCALLY (native MinHashSignature + codegen'd
    // banding) and counts collisions in-row via SetMemberCount — no
    // state store, no join, no stream-side aggregation. Band
    // collision is the candidate test (est/exact Jaccard rerank is
    // batch d12's job — the same flag-now/resolve-later split as
    // st6/d11): at JaccardThreshold=0.3 with 32 bands × 2 rows the
    // collision probability for a true near-dup is 1-(1-p²)³² ≈ 0.95+,
    // so the stream catches candidates exact n-gram st5 misses
    // (paraphrases) at O(bands) integer work per doc.
    "st7_stream_fuzzy_flag" -> QueryDef(
      (s, dir) => {
        runStream(st7Stream(s, dir))
          .filter(col("n_band_hits") > 0).orderBy(col("doc_id"))
      },
      // d2's signature/band CTE chain, restricted to train-side docs
      // whose band keys appear in the eval-side distinct key set (the
      // inner join emits only colliding docs, like st5's contract)
      Some(s"""WITH ${graft.dedup.DedupQueries.d2CoreSql},
      e AS (
        SELECT DISTINCT bk FROM banded WHERE doc_id % $StreamEvalMod = 0
      ), t AS (
        SELECT doc_id, bk FROM banded WHERE doc_id % $StreamEvalMod <> 0
      )
      SELECT t.doc_id, count(*) AS n_band_hits
      FROM t JOIN e USING (bk)
      GROUP BY 1 ORDER BY doc_id""")),

    // ---- st8: streaming incremental dedup — d14's stream front. Each
    // arriving delta doc is admitted against the PERSISTED corpus band
    // index via a stateless stream-static join (see [[st8Stream]] for
    // the scale contract). The oracle mirrors d14's candidate
    // semantics: stream-side band keys are raw (a row cannot know
    // global bucket counts), the index side carries the hot-bucket cap
    // — equivalent to d14's both-sides-capped join because a hot
    // bucket's INDEX rows are dropped either way.
    "st8_stream_incremental_dedup" -> QueryDef(
      (s, dir) => {
        runStream(st8Stream(s, dir))
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("old_doc")).as("n_candidates"),
            min(col("old_doc")).as("fc"))
          .select(col("doc_id"), col("n_candidates"),
            coalesce(col("fc"), lit(-1L)).as("first_candidate"),
            (col("n_candidates") === 0).cast("long").as("is_novel"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${graft.dedup.DedupQueries.d2CoreSql},
      cand AS (
        SELECT DISTINCT d.doc_id, o.doc_id AS old_doc
        FROM banded d JOIN capped o ON d.bk = o.bk
        WHERE d.doc_id % ${graft.dedup.DedupQueries.DeltaMod} = 0
          AND o.doc_id % ${graft.dedup.DedupQueries.DeltaMod} <> 0
      ), ag AS (
        SELECT doc_id, count(*) AS n_candidates,
          min(old_doc) AS first_candidate
        FROM cand GROUP BY 1
      )
      SELECT doc.doc_id,
        coalesce(ag.n_candidates, 0) AS n_candidates,
        coalesce(ag.first_candidate, -1) AS first_candidate,
        CAST(coalesce(ag.n_candidates, 0) = 0 AS BIGINT) AS is_novel
      FROM documents doc LEFT JOIN ag USING (doc_id)
      WHERE doc.doc_id % ${graft.dedup.DedupQueries.DeltaMod} = 0
      ORDER BY doc_id""")),

    // ---- st9: streaming drift monitor — the data-quality watchdog a
    //      production ingest runs beside the pipeline: each arriving
    //      event is ENRICHED with its type's batch-baseline mean via a
    //      stateless stream-static broadcast join (the baseline rides
    //      in the grouping key — no post-aggregation join, which
    //      streaming forbids), then a watermarked DAILY windowed agg
    //      compares the day's mean against the baseline and flags
    //      relative deviations above [[DriftTol]]. State = open day
    //      windows only (bounded: types × 1-2 days); append mode, so
    //      each closed day emits exactly once — st2's emission-gate
    //      semantics, mirrored in the oracle (the final partial day
    //      stays open and is not emitted). Numerics: decimal-exact
    //      sums, one IEEE division per side, identical in DuckDB.
    "st9_stream_drift_monitor" -> QueryDef(
      (s, dir) => runStream(st9Stream(s, dir))
        .orderBy(col("day"), col("event_type")),
      Some(s"""WITH base AS (
        SELECT event_type,
          CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)
            AS bm
        FROM events GROUP BY 1
      ), d AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / count(*)
            AS dm
        FROM events GROUP BY 1, 2
      )
      SELECT day, event_type, n_events,
        round(dm, 6) AS mean_value,
        round(bm, 6) AS base_mean,
        round(abs(dm - bm) / abs(bm), 6) AS rel_dev,
        CAST(round(abs(dm - bm) / abs(bm), 6) > $DriftTol AS BIGINT)
          AS drift
      FROM d JOIN base USING (event_type)
      -- st2's emission gate: only day windows the final watermark
      -- (max ts) closed are emitted; the last partial day stays open
      WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <=
        (SELECT max(ts) FROM events)
      ORDER BY day, event_type""")),

    // ---- st10: streaming pipeline admission — e1's composed ledger
    //      as a continuous-ingest front (see [[st10Stream]] for the
    //      per-stage scale contract). The oracle composes the SAME
    //      shared SQL pieces e1's oracle composes (t2's quality CTE,
    //      d1's normalized fingerprint, d7/st5's shingle containment,
    //      d8's hash split), restricted to delta non-eval docs.
    "st10_stream_pipeline_admission" -> QueryDef(
      (s, dir) => {
        runStream(st10Stream(s, dir)).orderBy(col("doc_id"))
      },
      Some {
        import graft.dedup.DedupQueries.{DecontamN, DeltaMod,
          SplitTrainFrac, SplitValFrac}
        import graft.pipeline.PipelineQueries.PipelineMinQuality
        val wordsSqlDuck = "regexp_extract_all(lower(text), '[a-z0-9]+')"
        val shingles =
          s"""CASE WHEN len($wordsSqlDuck) >= $DecontamN THEN
            list_distinct(list_transform(range(0, len($wordsSqlDuck) - ${DecontamN - 1}),
              j -> array_to_string(list_slice($wordsSqlDuck, j+1, j+$DecontamN), ' ')))
          ELSE [] END"""
        s"""WITH ${graft.text.TextQueries.qualitySqlCte},
        fps AS (
          SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
          FROM documents
        ), corpus AS (
          SELECT DISTINCT fp FROM fps
          WHERE doc_id % $DeltaMod <> 0 AND fp IS NOT NULL
        ), gg AS (
          SELECT doc_id, unnest($shingles) AS g FROM documents
        ), ev AS (
          SELECT DISTINCT g FROM gg WHERE doc_id % $StreamEvalMod = 0
        ), cont AS (
          SELECT DISTINCT gg.doc_id FROM gg JOIN ev USING (g)
          WHERE gg.doc_id % $DeltaMod = 0 AND gg.doc_id % $StreamEvalMod <> 0
        )
        SELECT q.doc_id, q.quality_score,
          CAST(q.quality_score >= $PipelineMinQuality AS BIGINT)
            AS passed_quality,
          CAST(corpus.fp IS NOT NULL AS BIGINT) AS is_exact_dup,
          CAST(cont.doc_id IS NOT NULL AS BIGINT) AS contaminated,
          CASE WHEN (CAST(('0x' || substr(md5(f.fp), 1, 15)) AS BIGINT)
              % 1000) / 1000.0 < $SplitTrainFrac THEN 'train'
            WHEN (CAST(('0x' || substr(md5(f.fp), 1, 15)) AS BIGINT)
              % 1000) / 1000.0 < ${SplitTrainFrac + SplitValFrac}
              THEN 'val'
            ELSE 'test' END AS split,
          CAST(q.quality_score >= $PipelineMinQuality
            AND corpus.fp IS NULL AND cont.doc_id IS NULL AS BIGINT)
            AS admit
        FROM q JOIN fps f USING (doc_id)
        LEFT JOIN corpus ON f.fp = corpus.fp
        LEFT JOIN cont ON q.doc_id = cont.doc_id
        WHERE q.doc_id % $DeltaMod = 0 AND q.doc_id % $StreamEvalMod <> 0
        ORDER BY q.doc_id"""
      }),

    // ---- st11: streaming MIXTURE SAMPLER — e4's front. e4 publishes
    //      the per-source sampling plan (frac_micro) off the last
    //      corpus snapshot; st11 applies that plan to continuously
    //      arriving delta docs: each doc computes its source, token
    //      count and salted selection hash ROW-LOCALLY, joins the
    //      broadcast plan (a handful of rows — one per source), and is
    //      sampled iff h < frac_micro. Plan refresh cadence is
    //      deliberately decoupled from arrival cadence (production
    //      samplers re-plan per snapshot, not per micro-batch), so the
    //      static side is the SAME materialized e4 histogram the batch
    //      manifest scans — the stream and the manifest cannot
    //      disagree on a sampling decision. A source absent from the
    //      plan (no admitted train docs in the snapshot) coalesces to
    //      frac 0: reported, never sampled, until the next re-plan.
    //      Stateless append — no watermark, no state store, O(doc)
    //      work per arrival at any stream lifetime.
    "st11_stream_mixture_sampler" -> QueryDef(
      (s, dir) => {
        runStream(st11Stream(s, dir)).orderBy(col("doc_id"))
      },
      Some {
        import graft.dedup.DedupQueries.DeltaMod
        import graft.pipeline.PipelineQueries
        s"""WITH ${PipelineQueries.ledgerSqlCtes},
        ledger AS (${PipelineQueries.ledgerSqlSelect}),
        ${PipelineQueries.mixturePlanSqlCtes}
        SELECT d.doc_id, coalesce(d.source, '') AS source,
          coalesce(CAST(len(regexp_extract_all(d.text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT), 0) AS n_tokens,
          ${PipelineQueries.mixHashSqlDuck("d.doc_id")} AS h,
          coalesce(p.frac_micro, 0) AS frac_micro,
          CAST(${PipelineQueries.mixHashSqlDuck("d.doc_id")}
            < coalesce(p.frac_micro, 0) AS BIGINT) AS sampled
        FROM documents d
        LEFT JOIN plan2 p ON coalesce(d.source, '') = p.source
        WHERE d.doc_id % $DeltaMod = 0
        ORDER BY d.doc_id"""
      }),

    // ---- st12: streaming OOV MONITOR — t16's front: the live "is the
    //      incoming crawl drifting off this tokenizer's vocabulary"
    //      gauge. The vocabulary is a FIXED artifact (t16's top-V head
    //      off the static corpus, materialized once — a tokenizer is
    //      fit once, the crawl drifts against it), collected into the
    //      native SetMemberCount probe (O(V) broadcast, V = vocab
    //      budget, a config constant at any corpus size). Each delta
    //      doc is scored ROW-LOCALLY — token count, in-vocab count
    //      with multiplicity, integer-micro OOV share — so the stream
    //      is a stateless append projection (zero state operators,
    //      contract-tested) a dashboard can window at will; empty docs
    //      carry NULL oov share, never a divide-by-zero.
    "st12_stream_oov_monitor" -> QueryDef(
      (s, dir) => {
        runStream(st12Stream(s, dir)).orderBy(col("doc_id"))
      },
      Some {
        import graft.dedup.DedupQueries.DeltaMod
        import graft.text.TextQueries.OovVocabSize
        val wordsSqlDuck = "regexp_extract_all(lower(text), '[a-z0-9]+')"
        s"""WITH g AS (
          SELECT w, count(*) AS gn
          FROM (SELECT unnest($wordsSqlDuck) AS w FROM documents)
          GROUP BY 1
        ), vl AS (
          SELECT list(w) AS vs FROM
            (SELECT w FROM g ORDER BY gn DESC, w LIMIT $OovVocabSize)
        )
        SELECT doc_id, coalesce(source, '') AS source,
          coalesce(CAST(len($wordsSqlDuck) AS BIGINT), 0) AS n_words,
          coalesce(CAST(len($wordsSqlDuck) AS BIGINT), 0) -
            coalesce(CAST(len(list_filter($wordsSqlDuck,
              x -> list_contains(vs, x))) AS BIGINT), 0) AS n_oov,
          CAST((coalesce(CAST(len($wordsSqlDuck) AS BIGINT), 0) -
            coalesce(CAST(len(list_filter($wordsSqlDuck,
              x -> list_contains(vs, x))) AS BIGINT), 0)) * 1000000 //
            nullif(coalesce(CAST(len($wordsSqlDuck) AS BIGINT), 0), 0)
            AS BIGINT) AS oov_micro
        FROM documents CROSS JOIN vl
        WHERE doc_id % $DeltaMod = 0
        ORDER BY doc_id"""
      }),

    // ---- st13: streaming quality monitor — t2's front, st9's posture
    //      for documents: every arriving delta doc is scored row-locally
    //      by the SHARED t2 quality kernel
    //      ([[graft.text.TextQueries.qualityOf]] — the same bytes the
    //      batch gate reads) and compared against its source's FIXED
    //      batch baseline mean
    //      ([[graft.text.TextQueries.qualityBaseline]], a materialized
    //      catalog-sized artifact broadcast into the stream). A doc
    //      sitting [[graft.text.TextQueries.QualityDriftMicro]] below
    //      its source baseline flags is_low — the live crawl-rot gauge
    //      (a source whose flags spike has changed under the pipeline).
    //      Stateless stream-static broadcast join + row-local math: no
    //      state store, no watermark, append mode; unseen sources and
    //      unscorable (null-text) docs stay in-frame with is_low = 0
    //      (conservative — an alert pass owns the unseen-source case).
    "st13_stream_quality_monitor" -> QueryDef(
      (s, dir) => {
        runStream(st13Stream(s, dir)).orderBy(col("doc_id"))
      },
      Some {
        import graft.dedup.DedupQueries.DeltaMod
        import graft.text.TextQueries.QualityDriftMicro
        s"""WITH ${graft.text.TextQueries.qualitySqlCte},
        src AS (
          SELECT d.doc_id, coalesce(d.source, '') AS source,
            CAST(round(q.quality_score * 1e6) AS BIGINT) AS qm
          FROM documents d JOIN q ON d.doc_id = q.doc_id
        ), base AS (
          SELECT source,
            CAST(sum(qm) // nullif(count(qm), 0) AS BIGINT)
              AS baseline_micro
          FROM src GROUP BY 1
        )
        SELECT s.doc_id, s.source, s.qm AS quality_micro,
          b.baseline_micro,
          CAST(s.qm IS NOT NULL AND b.baseline_micro IS NOT NULL AND
            s.qm < b.baseline_micro - $QualityDriftMicro AS BIGINT)
            AS is_low
        FROM src s LEFT JOIN base b USING (source)
        WHERE s.doc_id % $DeltaMod = 0
        ORDER BY s.doc_id"""
      }),

    // ---- st14: streaming block-scrub admission — d23's front, the
    //      incremental line-dedup rule: a delta doc's
    //      [[graft.dedup.DedupQueries.ScrubBlockWords]]-word block is
    //      scrubbed when its exact text ALREADY exists anywhere in the
    //      static corpus (delta + static = 2 distinct docs, d23's
    //      cross-doc threshold applied to the union). Emission is
    //      PER BLOCK, not per doc, on purpose: the per-doc rollup
    //      would be a streaming aggregation (watermark + state); the
    //      per-block decision keeps the query a stateless projection +
    //      stream-static equi-join on the block hash — exactly st8's
    //      admission shape, corpus-sized index on the static side,
    //      zero state operators. A sink-side batch view (or d23
    //      itself) owns the rollup. Empty/short-of-one-block docs emit
    //      nothing (they have no blocks to admit).
    "st14_stream_block_scrub" -> QueryDef(
      (s, dir) => {
        runStream(st14Stream(s, dir))
          .orderBy(col("doc_id"), col("block_idx"))
      },
      Some {
        import graft.dedup.DedupQueries.{DeltaMod, ScrubBlockWords => W}
        val wordsDuck =
          "regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')"
        s"""WITH sd AS (
          SELECT DISTINCT
            md5(array_to_string(list_slice(w, i*$W + 1, i*$W + $W), ' '))
              AS h
          FROM (
            SELECT w, unnest(range(0, (len(w) + ${W - 1}) // $W)) AS i
            FROM (SELECT $wordsDuck AS w FROM documents
                  WHERE doc_id % $DeltaMod <> 0)
            WHERE len(w) > 0)
        ), db AS (
          SELECT doc_id, CAST(i AS BIGINT) AS block_idx,
            md5(array_to_string(list_slice(w, i*$W + 1, i*$W + $W), ' '))
              AS h,
            CAST(len(list_slice(w, i*$W + 1, i*$W + $W)) AS BIGINT) AS nw
          FROM (
            SELECT doc_id, w,
              unnest(range(0, (len(w) + ${W - 1}) // $W)) AS i
            FROM (SELECT doc_id, $wordsDuck AS w FROM documents
                  WHERE doc_id % $DeltaMod = 0)
            WHERE len(w) > 0)
        )
        SELECT db.doc_id, db.block_idx, db.nw,
          CAST(sd.h IS NOT NULL AS BIGINT) AS is_dup
        FROM db LEFT JOIN sd ON db.h = sd.h
        ORDER BY db.doc_id, db.block_idx"""
      })
  )

  /** st14 stream side (exposed for the state-contract spec): delta
    * docs' blocks against the static corpus's distinct-block index —
    * see the QueryDef comment. The index is built once per run by the
    * same block expression the stream side uses (d23's block kernel,
    * [[blockStructs]]), so the two sides cannot drift. */
  private[streaming] def st14Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DeltaMod
    import graft.text.Text
    val staticIdx = Tables.table(s, dir, "documents")
      .filter(col("doc_id") % DeltaMod =!= 0)
      .select(Text.words(coalesce(col("text"), lit(""))).as("w"))
      .filter(size(col("w")) > 0)
      .select(explode(blockStructs(col("w"))).as("blk"))
      .select(col("blk.h").as("h")).distinct()
    streamTable(s, dir, "documents")
      .filter(col("doc_id") % DeltaMod === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        Text.words(coalesce(col("text"), lit(""))).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
        posexplode(blockStructs(col("w"))).as(Seq("block_idx", "blk")))
      .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
        col("blk.nw").as("nw"), col("blk.h").as("h"))
      .join(staticIdx.withColumnRenamed("h", "sh"),
        col("h") === col("sh"), "left")
      .select(col("doc_id"), col("block_idx"), col("nw"),
        col("sh").isNotNull.cast("long").as("is_dup"))
  }

  /** d23's block kernel over a word array: one struct per
    * non-overlapping [[graft.dedup.DedupQueries.ScrubBlockWords]]-word
    * block — `h` = md5 hex of the space-joined block text, `nw` = its
    * word count (the last block may be partial). Hex (not unhex'd)
    * because st14's consumers probe sets/joins where the 2× key width
    * is irrelevant; d23's batch explode compacts to binary itself. */
  private def blockStructs(w: Column): Column = {
    import graft.dedup.DedupQueries.{ScrubBlockWords => W}
    transform(
      sequence(lit(0), floor((size(w) - 1) / lit(W)).cast("int")),
      i => struct(
        md5(concat_ws(" ", slice(w, i * W + 1, lit(W))).cast("binary"))
          .as("h"),
        size(slice(w, i * W + 1, lit(W))).cast("long").as("nw")))
  }

  /** st12 stream side (exposed for the state-contract spec): delta
    * docs scored row-locally against the collected fixed vocabulary —
    * see the QueryDef comment for the full design rationale. */
  private[streaming] def st12Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DeltaMod
    import graft.text.{Text, TextQueries}
    val vocab: Array[String] = TextQueries.oovVocab(s, dir)
      .collect().map(_.getString(0))
    val bc = s.sparkContext.broadcast(vocab)
    streamTable(s, dir, "documents")
      .filter(col("doc_id") % DeltaMod === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        Text.words(col("text")).as("w"))
      .select(col("doc_id"), col("source"),
        coalesce(size(col("w")).cast("long"), lit(0L)).as("n_words"),
        coalesce(graft.functions.SetMemberCount.countIn(col("w"), bc),
          lit(0L)).as("n_in"))
      .select(col("doc_id"), col("source"), col("n_words"),
        (col("n_words") - col("n_in")).as("n_oov"),
        expr("(n_words - n_in) * 1000000 div nullif(n_words, 0)")
          .as("oov_micro"))
  }

  /** st13 stream side (exposed for the state-contract spec): delta
    * docs scored by the shared t2 kernel against the broadcast fixed
    * per-source baseline — see the QueryDef comment. */
  private[streaming] def st13Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DeltaMod
    import graft.text.TextQueries
    val base = TextQueries.qualityBaseline(s, dir)
    TextQueries.qualityOf(
      streamTable(s, dir, "documents")
        .filter(col("doc_id") % DeltaMod === 0)
        .repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        round(col("quality_score") * 1e6).cast("long")
          .as("quality_micro"))
      .join(broadcast(base), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("quality_micro"),
        col("baseline_micro"),
        (col("quality_micro").isNotNull &&
          col("baseline_micro").isNotNull &&
          col("quality_micro") <
            col("baseline_micro") - lit(TextQueries.QualityDriftMicro))
          .cast("long").as("is_low"))
  }

  /** st11 stream side (exposed for the state-contract spec): delta
    * docs sampled under the broadcast e4 plan — see the QueryDef
    * comment for the full design rationale. */
  private[streaming] def st11Stream(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.DedupQueries.DeltaMod
    import graft.pipeline.PipelineQueries
    import graft.text.Text
    val plan = PipelineQueries
      .mixtureManifest(PipelineQueries.e4Hist(s, dir),
        PipelineQueries.MixtureBudgetDenom)
      .select(col("source"), col("frac_micro"))
    streamTable(s, dir, "documents")
      .filter(col("doc_id") % DeltaMod === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        coalesce(Text.bpeTokenCount(col("text")).cast("long"), lit(0L))
          .as("n_tokens"),
        PipelineQueries.mixHash(col("doc_id")).as("h"))
      .join(broadcast(plan), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("h"),
        coalesce(col("frac_micro"), lit(0L)).as("frac_micro"),
        (col("h") < coalesce(col("frac_micro"), lit(0L))).cast("long")
          .as("sampled"))
  }
}
