package graft.dedup

import graft.SparkSpec
import graft.sim.SimilarityQueries

class DedupSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds the planted near-duplicate pairs and none below threshold") {
    val out = DedupQueries.defs("d2_minhash_lsh").fn(spark, sf).collect()
    assert(out.nonEmpty, "expected at least one near-dup pair at sf0.001")
    assert(out.forall(_.getAs[Double]("jaccard") >= DedupQueries.JaccardThreshold))
  }

  test("exact dedup marks doc as its own canonical when unique") {
    val rows = DedupQueries.defs("d1_exact_dedup").fn(spark, sf).collect()
    assert(rows.length === 500)
    val selfCanonical = rows.filter(r =>
      r.getAs[Long]("cluster_size") == 1L)
    assert(selfCanonical.forall(r =>
      r.getAs[Long]("canonical_id") == r.getAs[Long]("doc_id") &&
        r.getAs[Long]("is_dup") == 0L))
  }

  test("simhash signatures are 32-bit and stable across runs") {
    val a = DedupQueries.defs("d3_simhash").fn(spark, sf).collect()
    val b = DedupQueries.defs("d3_simhash").fn(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.forall { r =>
      val s = r.getAs[Long]("simhash"); s >= 0 && s <= 0xFFFFFFFFL
    })
  }

  test("d6 clusters are consistent with the d2 pair graph") {
    val out = DedupQueries.defs("d6_dup_clusters").fn(spark, sf).collect()
    val cluster = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out.length === 500, "every doc gets a cluster")
    // every verified near-dup pair lands in the same cluster
    val pairs = DedupQueries.minhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2")))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => cluster(a) == cluster(b) })
    // cluster id is the component minimum; canonical flag matches
    assert(out.forall { r =>
      val canonical = r.getAs[Long]("is_canonical") == 1L
      canonical == (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id"))
    })
    assert(out.forall(r => r.getAs[Long]("cluster_id") <= r.getAs[Long]("doc_id")))
    // at least one multi-doc cluster exists (planted dups)
    assert(out.exists(_.getAs[Long]("cluster_size") > 1L))
  }

  test("connected components converge on a chain far longer than the round budget") {
    import spark.implicits._
    // a 200-node chain has diameter 199 — naive min-label propagation
    // needs 199 rounds; large-star/small-star must close it within the
    // default 30-round budget (and assign everyone to the chain min)
    val n = 200L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc1", "doc2")
    // driverMaxEdges = 0 forces the star-contraction loop: this test
    // exists to prove the LOOP's round budget, and without the forced
    // branch the driver union-find gate would quietly absorb it
    val out = DedupQueries.connectedComponents(docs, pairs,
      driverMaxEdges = 0L).collect()
    assert(out.length === n)
    assert(out.forall(_.getAs[Long]("cluster_id") == 0L))
    // two components + singletons keep distinct minima
    val pairs2 = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc1", "doc2")
    val docs2 = (0L until 25L).toDF("doc_id")
    val out2 = DedupQueries.connectedComponents(docs2, pairs2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(out2(10L) == 10L && out2(11L) == 10L && out2(12L) == 10L)
    assert(out2(20L) == 20L && out2(21L) == 20L)
    assert(out2(5L) == 5L, "isolated docs are their own singleton cluster")
    // empty pair set: everyone is a singleton
    val out3 = DedupQueries.connectedComponents(
      docs2, Seq.empty[(Long, Long)].toDF("doc1", "doc2")).collect()
    assert(out3.forall(r => r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id")))
  }

  test("CC forced-branch equality: driver union-find == star-contraction loop") {
    import spark.implicits._
    // adversarial mix: a long chain (deep union-find paths), a clique,
    // duplicate + reversed edges, self-loops, isolated nodes — the same
    // graph labeled by BOTH branches must agree row-for-row
    val rnd = new scala.util.Random(7)
    val chain = (100L until 160L).sliding(2).map(w => (w(1), w(0))).toSeq
    val clique = for (i <- 0L until 8L; j <- 0L until i) yield (200L + i, 200L + j)
    val random = Seq.fill(120)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
    val edges = (chain ++ clique ++ random ++ Seq((5L, 5L), (100L, 101L)))
      .toDF("doc1", "doc2")
    val docs = (0L until 260L).toDF("doc_id")
    def sortedOut(driverMax: Long) =
      DedupQueries.connectedComponents(docs, edges, driverMaxEdges = driverMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaDriver = sortedOut(Long.MaxValue)
    val viaLoop = sortedOut(0L)
    assert(viaDriver === viaLoop)
    assert(viaDriver.length === 260)
  }

  test("d4 headroom: max (source, length-bucket) block size << D4MaxBlock at every test sf") {
    // The hot-block cap must never bind at correctness scale — if it did,
    // the capped engine/oracle pair would silently drop candidate pairs
    // relative to an uncapped run and the guard would mask data drift.
    // Judge-measured headroom: max block 4 docs at sf0.01, 21 at sf0.1.
    import org.apache.spark.sql.functions.{col, count, floor, lit, max}
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val maxBlock = graft.sources.Tables.table(spark, dir, "documents")
        .groupBy(col("source"),
          floor(col("n_chars") / DedupQueries.LengthTolerance).as("lb"))
        .agg(count(lit(1)).as("bsz"))
        .agg(max(col("bsz"))).head().getLong(0)
      info(s"$dir: max d4 block = $maxBlock (cap ${DedupQueries.D4MaxBlock})")
      assert(maxBlock * 10 <= DedupQueries.D4MaxBlock,
        s"d4 block headroom eroded at $dir: max block $maxBlock vs cap " +
          s"${DedupQueries.D4MaxBlock} — regenerate the cap or the data drifted")
    }
  }

  test("decontamination excludes the eval subset and flags only n-gram overlap") {
    val out = DedupQueries.defs("d7_decontamination").fn(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r =>
      r.getAs[Long]("doc_id") % DedupQueries.DecontamEvalMod != 0L),
      "eval docs must not appear in the training-side report")
    assert(out.forall { r =>
      val n = r.getAs[Long]("n_shared_ngrams")
      val c = r.getAs[Long]("contaminated")
      (n > 0L) == (c == 1L) && n >= 0L
    })
  }

  test("d12 fuzzy decontamination agrees with the pair graph's train/eval crossings") {
    val mod = DedupQueries.DecontamEvalMod
    val out = DedupQueries.defs("d12_fuzzy_decontamination").fn(spark, sf)
      .collect()
    // exactly the train docs, each reported once
    assert(out.length === 500 - 500 / mod)
    assert(out.forall(_.getAs[Long]("doc_id") % mod != 0L))
    // expected contamination recomputed from the shared pair table
    val expected = DedupQueries.minhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"),
        r.getAs[Double]("jaccard")))
      .flatMap { case (a, b, j) =>
        (a % mod == 0L, b % mod == 0L) match {
          case (true, false) => Seq(b -> (a, j))
          case (false, true) => Seq(a -> (b, j))
          case _             => Nil
        }
      }
      .groupBy(_._1)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      expected.get(id) match {
        case Some(ms) =>
          assert(r.getAs[Long]("n_fuzzy_matches") === ms.length.toLong)
          assert(r.getAs[Long]("contaminated_fuzzy") === 1L)
          val (bestEval, bestJac) =
            ms.map(_._2).minBy { case (e, j) => (-j, e) }
          assert(r.getAs[Long]("closest_eval_doc") === bestEval)
          assert(r.getAs[Double]("max_jaccard") === bestJac)
        case None =>
          assert(r.getAs[Long]("n_fuzzy_matches") === 0L)
          assert(r.getAs[Long]("contaminated_fuzzy") === 0L)
          assert(r.getAs[Long]("closest_eval_doc") === -1L)
          assert(r.getAs[Double]("max_jaccard") === 0.0)
      }
    }
  }

  test("d13 keeps exactly the highest-quality doc per dup cluster") {
    val out = DedupQueries.defs("d13_cluster_canonical").fn(spark, sf)
      .collect()
    assert(out.length === 500)
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.values
      .forall(_.count(_.getAs[Long]("is_kept") == 1L) == 1),
      "exactly one kept representative per cluster")
    byCluster.values.foreach { rows =>
      val kept = rows.find(_.getAs[Long]("is_kept") == 1L).get
      val best = rows.minBy(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id")))
      assert(kept.getAs[Long]("doc_id") === best.getAs[Long]("doc_id"),
        "the kept doc must maximize (quality, -doc_id)")
    }
    // the cluster partition is d6's, and the score is t2's (shared scorer)
    val d6 = DedupQueries.defs("d6_dup_clusters").fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out.forall(r =>
      d6(r.getAs[Long]("doc_id")) == r.getAs[Long]("cluster_id")))
    val q = graft.text.TextQueries.qualityFrame(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    assert(out.forall(r =>
      q(r.getAs[Long]("doc_id")) == r.getAs[Double]("quality_score")))
    // a multi-doc cluster exists, so d13 actually drops something
    assert(out.exists(_.getAs[Long]("is_kept") == 0L),
      "planted dups should make at least one doc droppable")
  }

  test("leakage-safe split keeps every near-dup cluster in one split") {
    val out = DedupQueries.defs("d8_leakage_safe_split").fn(spark, sf).collect()
    assert(out.nonEmpty)
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.forall { case (_, rows) =>
      rows.map(_.getAs[String]("split")).distinct.length == 1
    }, "all docs of a cluster must share a split — else eval leaks into train")
    val fracs = out.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length.toDouble / out.length).toMap
    assert(fracs.getOrElse("train", 0.0) > 0.6, s"train frac off: $fracs")
    assert(fracs.keySet.subsetOf(Set("train", "val", "test")))
  }

  test("d5/d9 LSH bits scale with corpus size; band keys match the packed signature") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // occupancy-targeted bits: identical to the fixed NdBits=4 at every
    // test scale (n <= 2000), growing once buckets would exceed target
    assert(DedupQueries.ndBitsFor(20L) === DedupQueries.NdBits)
    assert(DedupQueries.ndBitsFor(2000L) === DedupQueries.NdBits)
    assert(DedupQueries.ndBitsFor(2001L) === DedupQueries.NdBits + 1)
    assert(DedupQueries.ndBitsFor(20000L) === 8)
    assert(DedupQueries.ndBitsFor(Long.MaxValue) === 24, "bit growth is capped")
    // per-band keys are bit-identical to extracting the band from the
    // packed signature (so the bits=4 regime reproduces old behavior)
    import spark.implicits._
    val vec = array((0 until 64).map(d => lit(math.sin(d * 2.7))): _*)
    val bits = DedupQueries.NdBits
    val row = Seq(1).toDF("x").select(
      graft.text.Text.hyperplaneSig(vec, DedupQueries.NdBands * bits, 64)
        .as("sig"),
      array((0 until DedupQueries.NdBands).map(b =>
        graft.text.Text.hyperplaneBandKey(vec, b, bits, 64)): _*).as("keys"))
      .head()
    val sig = row.getAs[Long]("sig")
    val keys = row.getAs[collection.Seq[Long]]("keys")
    (0 until DedupQueries.NdBands).foreach { b =>
      assert(keys(b) === ((sig >> (bits * b)) & ((1 << bits) - 1)),
        s"band $b key diverges from packed signature")
    }
  }

  test("d11 semantic dedup: one representative per cluster core, periphery survives") {
    import org.apache.spark.sql.functions.col
    val r = DedupQueries.defs("d11_semantic_dedup").fn(spark, sf)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3)))
    assert(r.length === 500)
    val tau = DedupQueries.SemDedupTau
    r.groupBy(_._2).foreach { case (cluster, vs) =>
      val core = vs.filter(_._3 >= tau)
      val peripheral = vs.filter(_._3 < tau)
      // periphery always survives
      assert(peripheral.forall(_._4 === 1L), s"cluster $cluster dropped a peripheral vector")
      // exactly one representative kept among the core (when it exists)
      assert(core.count(_._4 === 1L) === (if (core.nonEmpty) 1 else 0),
        s"cluster $cluster kept ${core.count(_._4 == 1L)} of ${core.length} core vectors")
      // the representative is the highest-cosine core vector (vec_id tiebreak)
      if (core.nonEmpty) {
        val rep = core.filter(_._4 === 1L).head
        val best = core.maxBy(v => (v._3, -v._1))
        assert(rep._1 === best._1, s"cluster $cluster kept ${rep._1}, expected ${best._1}")
      }
    }
    // the threshold is non-trivial at this sf: both cores and periphery exist
    assert(r.exists(_._4 === 0L), "no semantic duplicates pruned — tau miscalibrated")
    assert(r.count(_._4 === 1L) > r.length / 2, "over-pruning")
  }

  test("d9 clusters are consistent with the embedding pair graph " +
      "(the sf1-leg replacement check for d9's out-of-contract twin)") {
    assert(DedupQueries.embeddingClusterViolations(spark, sf) === 0L)
  }

  test("d5 LSH path: key-equality candidates, exact cosines, sane recall") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), graft.text.Text.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.text.Text.norm(col("v")))
      .persist()
    val lshTop = DedupQueries.embeddingPairsLsh(e, e.count())
      .orderBy(col("cos").desc, col("vec1"), col("vec2")).limit(20)
    val p = lshTop.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "LSH near-dup path must generate candidates by key equality")
    val brute = DedupQueries.embeddingPairsBrute(e)
      .orderBy(col("cos").desc, col("vec1"), col("vec2")).limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = lshTop.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair's cosine is the exact (reranked) value
    val common = brute.keySet & lsh.keySet
    assert(common.forall(k => brute(k) == lsh(k)))
    val recall = common.size.toDouble / brute.size
    info(s"d5 LSH top-20 recall vs brute: $recall")
    assert(recall >= 0.4, s"near-dup LSH recall too low: $recall")
    e.unpersist()
  }

  test("ann lsh and ivf recall vs brute force") {
    def pairs(name: String): Set[(Long, Long)] =
      SimilarityQueries.defs(name).fn(spark, sf).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .toSet
    val exact = pairs("s1_ann_bruteforce")
    val lsh = pairs("s2_ann_lsh")
    val ivf = pairs("s3_ann_ivf")
    val ivfK = pairs("s5_ann_ivf_kmeans")
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    val ivfKRecall = (exact & ivfK).size.toDouble / exact.size
    info(s"LSH recall: $lshRecall, IVF recall: $ivfRecall, " +
      s"IVF-kmeans recall: $ivfKRecall")
    assert(lshRecall >= 0.3, s"LSH recall too low: $lshRecall")
    assert(ivfRecall >= 0.3, s"IVF recall too low: $ivfRecall")
    assert(ivfKRecall >= 0.3, s"IVF-kmeans recall too low: $ivfKRecall")
  }

  test("d14 delta-vs-index join equals the cross-pair subset of the full pair table") {
    val mod = DedupQueries.DeltaMod
    val out = DedupQueries.defs("d14_incremental_dedup").fn(spark, sf).collect()
    // one row per delta doc, and only delta docs
    assert(out.nonEmpty && out.forall(_.getAs[Long]("doc_id") % mod == 0))
    // the incremental plan (delta.bk = index.bk, no old x old pairs) must
    // flag exactly the docs the retrospective all-pairs table would:
    // cross pairs of minhashPairs, grouped per delta doc
    val cross = DedupQueries.minhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"),
        r.getAs[Double]("jaccard")))
      .filter { case (a, b, _) => (a % mod == 0) != (b % mod == 0) }
      .map { case (a, b, j) => if (a % mod == 0) (a, b, j) else (b, a, j) }
    val expectedCount = cross.groupBy(_._1).view.mapValues(_.size).toMap
    val expectedBest = cross.groupBy(_._1).view.mapValues(ps =>
      ps.minBy(p => (-p._3, p._2))).toMap
    assert(cross.nonEmpty, "expected cross delta/index pairs at sf0.001")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_index_matches") ===
        expectedCount.getOrElse(id, 0).toLong, s"doc $id match count")
      assert((r.getAs[Long]("is_novel") == 1L) === !expectedCount.contains(id))
      expectedBest.get(id).foreach { case (_, old, j) =>
        assert(r.getAs[Long]("nearest_old_doc") === old, s"doc $id best match")
        assert(r.getAs[Double]("max_jaccard") === j)
      }
    }
  }

  test("d15 bloom path is byte-identical to d7's exact decontamination") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared_ngrams"),
        r.getAs[Long]("contaminated"))
    val d7 = DedupQueries.defs("d7_decontamination").fn(spark, sf)
      .collect().map(key).toSeq
    val d15 = DedupQueries.defs("d15_bloom_decontamination").fn(spark, sf)
      .collect().map(key).toSeq
    assert(d7.nonEmpty && d15 === d7,
      "bloom pre-filter + exact confirm must not change the answer")
  }

  test("BloomMemberCount: no false negatives, null semantics, codegen probe") {
    import org.apache.spark.sql.functions._
    import graft.functions.{BloomMemberCount, SetMemberCount}
    val keys = (0 until 200).map(i => s"gram-$i")
    val bloom = spark.sparkContext.broadcast {
      val f = org.apache.spark.util.sketch.BloomFilter.create(keys.size, 0.01)
      keys.foreach(f.putString)
      f
    }
    val exact = spark.sparkContext.broadcast(keys.toArray)
    import spark.implicits._
    val df = Seq(
      (1L, Seq("gram-0", "gram-7", "nope", "gram-199")),
      (2L, Seq("absent-a", "absent-b")),
      (3L, Seq[String]())).toDF("id", "arr")
      .withColumn("bloom_n", BloomMemberCount.countIn(col("arr"), bloom))
      .withColumn("exact_n", SetMemberCount.countIn(col("arr"), exact))
    val rows = df.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("bloom_n"), r.getAs[Long]("exact_n"))).toMap
    // superset property: bloom count >= exact count, and every true
    // member is found (row 1 has 3 true members)
    assert(rows(1L)._2 === 3L && rows(1L)._1 >= 3L)
    assert(rows(2L)._1 >= rows(2L)._2 && rows(2L)._2 === 0L)
    assert(rows(3L) === (0L, 0L))
    // null array -> null (not 0)
    val n = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("arr")
      .select(BloomMemberCount.countIn(col("arr"), bloom).as("c"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("d16 classifies added/removed/changed/unchanged deterministically") {
    val out = DedupQueries.defs("d16_corpus_diff").fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val ids = out.keySet
    ids.foreach { id =>
      val expected =
        if (id % DedupQueries.DiffMod == DedupQueries.DiffAddSlot) "added"
        else if (id % DedupQueries.DiffMod == DedupQueries.DiffRemoveSlot) "removed"
        else if (id % DedupQueries.DiffChangeMod == DedupQueries.DiffChangeSlot) "changed"
        else "unchanged"
      assert(out(id) === expected, s"doc $id")
    }
    // all four classes appear at sf0.001
    assert(out.values.toSet ===
      Set("added", "removed", "changed", "unchanged"))
  }

  test("d18 containment: threshold honored, bounds exact, direction correct") {
    val rows = DedupQueries.defs("d18_containment").fn(spark, sf).collect()
    assert(rows.nonEmpty, "expected containment pairs at sf0.001")
    rows.foreach { r =>
      val (n1, n2, inter) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("inter"))
      assert(inter <= math.min(n1, n2), "intersection exceeds a set size")
      assert(inter * DedupQueries.ContainDenom >=
        DedupQueries.ContainNum * math.min(n1, n2), "below threshold")
      assert(r.getAs[Double]("c12") <= 1.0 && r.getAs[Double]("c21") <= 1.0)
      val expected = if (n1 <= n2) r.getAs[Long]("doc1")
        else r.getAs[Long]("doc2")
      assert(r.getAs[Long]("contained_doc") === expected)
    }
  }

  test("d19 source overlap: bounds, ordering, and real shared content") {
    val rows = DedupQueries.defs("d19_source_overlap").fn(spark, sf).collect()
    // template-generated sources share 5-gram shingles (verified:
    // every source pair shares ~85-91 at sf0.001) — an empty matrix
    // means the shingle kernel or the distinct pass broke
    assert(rows.nonEmpty, "no source pair shares any shingle content")
    rows.foreach { r =>
      val (sa, sb) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(sa < sb, "matrix must be upper-triangular")
      val (sh, na, nb) = (r.getAs[Long]("n_shared_fps"),
        r.getAs[Long]("n_fps_a"), r.getAs[Long]("n_fps_b"))
      assert(sh >= 1L && sh <= math.min(na, nb))
      val micro = r.getAs[Long]("overlap_micro")
      assert(micro >= 0L && micro <= 1000000L)
      assert(micro === sh * 1000000L / (na + nb - sh))
    }
  }

  test("d20 sweep: floor row equals the pair table, counts monotone") {
    val rows = DedupQueries.defs("d20_threshold_sweep").fn(spark, sf)
      .collect().sortBy(_.getAs[Long]("threshold_micro"))
    assert(rows.map(_.getAs[Long]("threshold_micro")).toSeq ===
      DedupQueries.SweepThresholdsMicro)
    // the grid floor IS d2's verify threshold, so the first row must
    // reproduce the shared pair table exactly
    val pairs = DedupQueries.minhashPairs(spark, sf).collect()
    assert(rows.head.getAs[Long]("n_pairs") === pairs.length.toLong)
    assert(rows.head.getAs[Long]("n_docs_droppable") ===
      pairs.map(_.getAs[Long]("doc2")).distinct.length.toLong)
    // tightening the cut can only shrink both counts
    val np = rows.map(_.getAs[Long]("n_pairs")).toSeq
    val nd = rows.map(_.getAs[Long]("n_docs_droppable")).toSeq
    assert(np === np.sorted.reverse, "n_pairs must be non-increasing")
    assert(nd === nd.sorted.reverse, "droppable must be non-increasing")
    rows.foreach { r =>
      assert(r.getAs[Long]("drop_share_micro") ===
        r.getAs[Long]("n_docs_droppable") * 1000000L /
          r.getAs[Long]("n_docs"))
    }
  }

  test("d18 flags a planted subset pair d2's Jaccard verify discards") {
    // The reason d18 exists: doc A embedded whole in a much longer
    // doc B has containment(A->B) = 1 but Jaccard << threshold. The
    // uniform synthetic corpus plants only similar-length dups, so
    // the pair is PLANTED here: base text + an extended doc sharing
    // every base shingle. Band collision under the Jaccard-tuned LSH
    // is probabilistic at low Jaccard (the documented recall decay),
    // so the filler suffix is searched deterministically until one
    // band collides — md5 is fixed, the same seed wins every run.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.Text
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    def frame(filler: String) =
      Seq((1L, base), (2L, s"$base $filler")).toDF("doc_id", "text")
        .select(col("doc_id"),
          Text.wordShingles(Text.words(col("text")), 2).as("sh"))
        .withColumn("mh", Text.minhash(col("sh"), DedupQueries.MinhashK))
    val seed = (1 to 200).find { s =>
      val bks = frame((1 to 40).map(i => s"filler$s$i").mkString(" "))
        .select(explode(Text.bandKeys(col("mh"),
          DedupQueries.Bands, DedupQueries.Rows)).as("bk"))
        .groupBy("bk").count().filter(col("count") === 2).count()
      bks > 0
    }.getOrElse(fail("no colliding filler found in 200 seeds"))
    val f = frame((1 to 40).map(i => s"filler$seed$i").mkString(" "))
    val banded = f.select(col("doc_id"),
      explode(Text.bandKeys(col("mh"),
        DedupQueries.Bands, DedupQueries.Rows)).as("bk0"))
      .select(col("doc_id"), unhex(col("bk0")).as("bk"))
    val out = DedupQueries.containmentPairs(banded,
      DedupQueries.fingerprinted(f.select("doc_id", "sh")))
      .collect()
    assert(out.length === 1, "planted subset pair must be flagged")
    val r = out.head
    assert(r.getAs[Long]("contained_doc") === 1L)
    assert(r.getAs[Double]("c12") === 1.0, "base doc is fully contained")
    // and d2's Jaccard verify would discard it
    val jac = r.getAs[Long]("inter").toDouble /
      (r.getAs[Long]("n1") + r.getAs[Long]("n2") - r.getAs[Long]("inter"))
    assert(jac < DedupQueries.JaccardThreshold,
      s"fixture drifted: jaccard $jac not below the d2 threshold")
  }
}
