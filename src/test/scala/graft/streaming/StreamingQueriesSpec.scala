package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The harness-visible streaming queries (st1-st4) are oracle-checked
  * by the driver in DuckDB; these specs pin the stream-vs-batch
  * equivalence INSIDE Spark at sf0.001 so `sbt test` catches a broken
  * file-source/trigger/sink pipeline without the oracle harness. */
class StreamingQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("st1 streaming daily rollup equals the gated batch aggregation") {
    val streamed = run("st1_stream_event_rollup")
      .orderBy("day", "event_type").collect().toSeq
    val events = graft.sources.Tables.table(spark, sf, "events")
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val batch = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(25,6)")).cast("double"), 2)
          .as("sum_value"))
      // emission gate: only days the final watermark (max ts) closed
      .filter(date_add(col("day"), 1).cast("timestamp") <= lit(maxTs))
      .orderBy("day", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("st1 state contract: append mode, state bounded by the watermark " +
      "(open windows only), closed days emitted exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val q = StreamingQueries.st1Stream(spark, sf)
      .writeStream.format("memory").queryName("st1_state_contract")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val stateOps = q.recentProgress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "st1 is a windowed agg — expects state")
      assert(stateOps.forall(_.operatorName == "stateStoreSave"),
        s"unexpected state operators: ${stateOps.map(_.operatorName).toSet}")
      val nTypes = graft.sources.Tables.table(spark, sf, "events")
        .select(col("event_type")).distinct().count()
      // after the final no-data batch the watermark sits at max ts:
      // every closed day's row was EVICTED on emit; remaining state is
      // open windows only — at most the final partial day per type
      // (2× slack for a window straddling the watermark)
      val lastTotal = q.recentProgress.last.stateOperators.map(_.numRowsTotal).sum
      assert(lastTotal <= nTypes * 2,
        s"state not watermark-bounded: $lastTotal rows for $nTypes types")
      // closed days emit exactly once across all micro-batches
      val out = spark.table("st1_state_contract")
      assert(out.count() ===
        out.select(col("day"), col("event_type")).distinct().count(),
        "a (day, type) window emitted more than once")
    } finally q.stop()
  }

  test("st2 emits exactly the sessions the final watermark closed") {
    val events = graft.sources.Tables.table(spark, sf, "events")
    // batch twin of session_window semantics: half-open close (>= gap),
    // microsecond-exact — then the append-mode emission gate
    val sessions = StreamingSessions.sessionize(
      events.select(col("user_id"), col("ts")), "30 minutes", "0 seconds")
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val expected = sessions
      .where(col("session_end") <= lit(maxTs))
      .orderBy("user_id", "session_start").collect().toSeq
    val streamed = run("st2_stream_sessions")
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed.nonEmpty && streamed === expected)
  }

  test("st2 emission boundary: a session ending exactly AT the final " +
      "watermark is emitted (the oracle's <= gate)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1's session: single event at 10:00, end = 10:30 (gap 30 min);
    // user 2's event at exactly 10:30 pins max ts == that session end
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val q = StreamingSessions.sessionize(
        in.toDS().toDF("ts", "user_id"), "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("st2_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((t("2026-01-01 10:00:00"), 1L), (t("2026-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      val emitted = spark.table("st2_boundary").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(emitted === Set((1L, t("2026-01-01 10:00:00"))),
        "exactly the boundary session emits; user 2's open session does not")
    } finally q.stop()
  }

  test("st3 streaming dedup yields the batch-distinct fingerprint set") {
    val streamed = run("st3_stream_distinct_docs")
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    val batch = graft.sources.Tables.table(spark, sf, "documents")
      .select(md5(col("text")).as("f")).distinct()
      .orderBy("f").collect().map(_.getString(0)).toSeq
    assert(streamed === batch)
  }

  test("st4 stateless quality scrub equals its batch backfill") {
    val streamed = run("st4_stream_quality_scrub")
      .orderBy("doc_id").collect().toSeq
    val batch = StreamingQuality.qualityScrub(
        graft.sources.Tables.table(spark, sf, "documents"))
      .orderBy("doc_id").collect().toSeq
    assert(streamed === batch)
  }

  test("st6 stream flags agree with d11's batch semantic dedup") {
    // the stream's row-local assignment + cosine must reproduce the
    // batch resolver's view of the same index: identical clusters and
    // rounded cosines, and in_core = "d11 would consider this vector
    // part of a dedup core" (every vector d11 DROPS is in_core, plus
    // exactly one kept representative per non-empty core)
    val streamed = run("st6_stream_semantic_flag")
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    val batch = graft.SparkEntry.queries("d11_semantic_dedup")(spark, sf)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(streamed.keySet === batch.keySet)
    val tau = graft.dedup.DedupQueries.SemDedupTau
    for ((id, (cluster, cos, inCore)) <- streamed) {
      val (bCluster, bCos, bKeep) = batch(id)
      assert(cluster === bCluster, s"vec $id cluster: stream $cluster vs batch $bCluster")
      assert(cos === bCos, s"vec $id cosine: stream $cos vs batch $bCos")
      assert(inCore === (if (cos >= tau) 1L else 0L))
      if (bKeep == 0L)
        assert(inCore === 1L, s"vec $id dropped by d11 but not flagged by st6")
    }
    assert(streamed.values.exists(_._3 == 1L), "no core flagged at this sf")
  }

  test("st5/st6/st7/st8/st10/st11/st12/st13/st14 state contract: the " +
      "flag/admission/sampler/monitor queries run with ZERO stateful " +
      "operators (append mode)") {
    import org.apache.spark.sql.streaming.Trigger
    val frames = Seq(
      "st5" -> StreamingQueries.st5Stream(spark, sf),
      "st6" -> StreamingQueries.st6Stream(spark, sf),
      "st7" -> StreamingQueries.st7Stream(spark, sf),
      "st8" -> StreamingQueries.st8Stream(spark, sf),
      "st10" -> StreamingQueries.st10Stream(spark, sf),
      "st11" -> StreamingQueries.st11Stream(spark, sf),
      "st12" -> StreamingQueries.st12Stream(spark, sf),
      "st13" -> StreamingQueries.st13Stream(spark, sf),
      "st14" -> StreamingQueries.st14Stream(spark, sf))
    for ((nm, df) <- frames) {
      val q = df.writeStream.format("memory")
        .queryName(s"${nm}_state_contract").outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        val stateOps = q.recentProgress.flatMap(_.stateOperators)
        assert(stateOps.isEmpty,
          s"$nm must be stateless, found state operators: " +
            stateOps.map(_.operatorName).mkString(", "))
        assert(spark.table(s"${nm}_state_contract").count() > 0,
          s"$nm produced no rows at this sf")
      } finally q.stop()
    }
  }

  test("st5 stream flags equal the batch explode+join backfill") {
    import graft.dedup.DedupQueries.DecontamN
    import graft.text.Text
    val mod = StreamingQueries.StreamEvalMod
    val streamed = run("st5_stream_decontaminate")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grams = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), explode(Text.wordShingles(
        Text.words(col("text")), DecontamN)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % mod === 0)
      .select(col("g")).distinct()
    val batch = grams.filter(col("doc_id") % mod =!= 0)
      .join(evalGrams, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty, "no contamination flagged at this sf")
  }

  test("st12 stream OOV rates equal a t16-vocab batch recount") {
    import graft.text.{Text, TextQueries}
    val streamed = run("st12_stream_oov_monitor")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    val vocab = TextQueries.oovVocab(spark, sf)
      .collect().map(_.getString(0)).toSet
    val mod = graft.dedup.DedupQueries.DeltaMod
    val batch = graft.sources.Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % mod === 0)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .collect().map { r =>
        val ws = if (r.isNullAt(1)) Seq.empty[String]
          else r.getAs[collection.Seq[String]](1).toSeq
        val nOov = ws.count(!vocab.contains(_)).toLong
        r.getLong(0) -> (ws.length.toLong, nOov,
          if (ws.isEmpty) -1L else nOov * 1000000L / ws.length)
      }.toMap
    assert(streamed === batch)
    assert(streamed.values.exists(_._2 > 0L),
      "the vocab cut must leave OOV tokens in the delta at this sf")
  }

  test("st13 stream quality flags equal a batch kernel recount") {
    import graft.text.TextQueries
    val streamed = run("st13_stream_quality_monitor")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getLong(4))).toMap
    val mod = graft.dedup.DedupQueries.DeltaMod
    val base = TextQueries.qualityBaseline(spark, sf)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val batch = TextQueries.qualityOf(
        graft.sources.Tables.table(spark, sf, "documents")
          .filter(col("doc_id") % mod === 0))
      .select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        round(col("quality_score") * 1e6).cast("long").as("qm"))
      .collect().map { r =>
        val qm = if (r.isNullAt(2)) -1L else r.getLong(2)
        val b = base.getOrElse(r.getString(1), -1L)
        val low = if (qm >= 0L && b >= 0L &&
          qm < b - TextQueries.QualityDriftMicro) 1L else 0L
        r.getLong(0) -> (qm, b, low)
      }.toMap
    assert(streamed === batch)
    assert(streamed.values.exists(_._3 == 1L),
      "no low-quality outlier flagged at this sf")
  }

  test("st14 per-block admissions equal a d23-kernel batch recount") {
    import graft.text.Text
    import graft.dedup.DedupQueries.{DeltaMod, ScrubBlockWords => W}
    val streamed = run("st14_stream_block_scrub")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // independent batch recount: per-word explode -> block grouping in
    // plain SQL (a different decomposition from the stream's array
    // kernel, so a kernel bug can't hide on both sides)
    val words = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        posexplode(Text.words(coalesce(col("text"), lit("")))))
      .select(col("doc_id"), (col("pos") / W).cast("long").as("block_idx"),
        col("pos"), col("col").as("word"))
    val blocks = words.groupBy(col("doc_id"), col("block_idx"))
      .agg(count(lit(1)).as("nw"),
        concat_ws(" ", array_sort(
          collect_list(struct(col("pos"), col("word"))))
          .getField("word")).as("blk"))
    val staticSet = blocks.filter(col("doc_id") % DeltaMod =!= 0)
      .select(col("blk")).distinct()
      .collect().map(_.getString(0)).toSet
    val batch = blocks.filter(col("doc_id") % DeltaMod === 0)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), if (staticSet(r.getString(3))) 1L else 0L)
      }.toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.values.exists(_._2 == 1L),
      "no duplicated block admitted at this sf — fixture too weak")
  }

  test("st7 stream fuzzy flags equal the batch band-collision backfill") {
    import graft.dedup.DedupQueries.{MinhashK, Bands, Rows}
    import graft.text.Text
    val mod = StreamingQueries.StreamEvalMod
    val streamed = run("st7_stream_fuzzy_flag")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch backfill: identical signature arithmetic over the same split
    val banded = graft.sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(Text.bandKeys(
        Text.minhash(Text.wordShingles(col("w"), 2), MinhashK),
        Bands, Rows)).as("bk"))
    val evalKeys = banded.filter(col("doc_id") % mod === 0)
      .select(col("bk")).distinct()
    val batch = banded.filter(col("doc_id") % mod =!= 0)
      .join(evalKeys, "bk")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty, "no fuzzy candidates flagged at this sf")
    // flagged docs are train-side only
    assert(streamed.keySet.forall(_ % mod != 0))
  }

  test("st8 stream admission equals the batch delta-vs-index backfill") {
    import graft.dedup.DedupQueries
    val mod = DedupQueries.DeltaMod
    val streamed = run("st8_stream_incremental_dedup")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // batch twin: raw delta band keys vs the capped persisted index —
    // the same frame d14's candidate stage sees
    val capped = DedupQueries.cappedBanded(spark, sf)
    val index = capped.filter(col("doc_id") % mod =!= 0)
      .select(col("bk"), col("doc_id").as("old_doc"))
    // the persisted index stores binary(16) band keys — unhex the
    // fresh delta keys exactly as st8Stream does
    val deltaBanded = graph8DeltaBanded(mod)
      .select(col("doc_id"), unhex(col("bk")).as("bk"))
    val cand = deltaBanded.join(index, "bk")
      .select(col("doc_id"), col("old_doc")).distinct()
    val ag = cand.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), min(col("old_doc")).as("fc"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val deltaIds = graft.sources.Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % mod === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed.keySet === deltaIds,
      "every delta doc (novel or not, even <2-word docs) gets a row")
    for (id <- deltaIds) {
      val (n, fc, novel) = streamed(id)
      ag.get(id) match {
        case Some((bn, bfc)) =>
          assert((n, fc, novel) === (bn, bfc, 0L), s"doc $id")
        case None =>
          assert((n, fc, novel) === (0L, -1L, 1L), s"doc $id should be novel")
      }
    }
    assert(streamed.values.exists(_._3 == 0L), "no candidate admitted at this sf")
    assert(streamed.values.exists(_._3 == 1L), "no novel doc at this sf")
  }

  test("st9 drift monitor equals the gated batch comparison; state is " +
      "one bounded windowed agg") {
    val events = graft.sources.Tables.table(spark, sf, "events")
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    def dmean = (sum(col("value").cast("decimal(25,6)")).cast("double") /
      count(lit(1)))
    val base = events.groupBy(col("event_type"))
      .agg(dmean.as("bm"))
    val batch = events
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dmean.as("dm"))
      .join(base, "event_type")
      // emission gate: only days the final watermark (max ts) closed
      .filter(date_add(col("day"), 1).cast("timestamp") <= lit(maxTs))
      .withColumn("rel_dev", round(abs(col("dm") - col("bm")) /
        abs(col("bm")), 6))
      .collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("rel_dev"))).toMap
    val streamed = run("st9_stream_drift_monitor").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("rel_dev"),
          r.getAs[Long]("drift"))).toMap
    assert(streamed.nonEmpty && streamed.keySet === batch.keySet,
      "emitted (day, type) windows must be exactly the watermark-closed set")
    streamed.foreach { case (k, (n, dev, drift)) =>
      assert((n, dev) === batch(k), s"window $k")
      assert(drift === (if (dev > StreamingQueries.DriftTol) 1L else 0L))
    }
    assert(streamed.values.exists(_._3 == 1L), "no drifting day at this sf")
    assert(streamed.values.exists(_._3 == 0L), "every day drifting at this sf")
  }

  /** The raw (uncapped) band keys of the delta docs — what each
    * arriving stream row computes locally. */
  private def graph8DeltaBanded(mod: Int) = {
    import graft.dedup.DedupQueries.{Bands, MinhashK, Rows}
    import graft.text.Text
    graft.sources.Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % mod === 0)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(Text.bandKeys(
        Text.minhash(Text.wordShingles(col("w"), 2), MinhashK),
        Bands, Rows)).as("bk"))
  }
}
