package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.sources.Tables
import graft.text.Text

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * s1 is the exact brute-force baseline (restricted query set x full
  * corpus, broadcast the small side). s2/s3 are the 100-TB scale paths:
  * candidate generation by key-equality join (random-hyperplane LSH
  * buckets / IVF cells) so the per-query work is a bucket, not the
  * corpus. s2/s3 are verified by recall-vs-brute-force specs rather
  * than a SQL oracle (the bucketing is not reasonably expressible in
  * ANSI SQL).
  */
object SimilarityQueries {

  val TopK = 10
  val NumQueries = 10

  /** s4 k-means cells (also the learned-centroid count for an IVF
    * index) and Lloyd iteration count. NOTE: must be declared before
    * `defs` — the map (and its generated oracle SQL) is built eagerly. */
  val KmeansK = 4
  val KmeansIters = 3

  /** IVF cells probed per query in s5. */
  val IvfNprobe = 2

  /** s6 product quantization: M subspaces × K codes per subspace,
    * trained by the same integer-exact Lloyd arithmetic as s4.
    * 8×16 = 32 bits/vector (64× compression of the 64-float
    * embedding) — the recall/compression operating point PERF quotes. */
  val PqM = 8
  val PqK = 16
  val PqIters = 2

  /** PQ's key column for [[assignToCentroids]] and the Lloyd loop: one
    * codebook per subspace. */
  private val PqKeys = Seq("sub")

  /** 16 deterministic pseudo-random +/-1 hyperplanes over 64 dims. */
  val Planes = 16
  val Dims = 64

  /** s8: neighbors kept per vector in the corpus-wide kNN graph. */
  val KnnGraphK = 5

  private def corpus(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), Text.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Text.norm(col("v")))

  /** s15's LSH signature column: sign bits of v . plane_p packed into a
    * long. s15's multiprobe flips bits inside a band, which the
    * `"band:key"` strings of [[graft.functions.HyperplaneBandKeys]] do
    * not expose. */
  private def sigCol(v: Column): Column = Text.hyperplaneSig(v, Planes, Dims)

  /** s2/s10's LSH candidate set, exactly scored: (query_id, vec_id,
    * cos) for every corpus vector sharing one of 4 hyperplane band keys
    * (4 bits each, uncentered) with one of the NumQueries query
    * vectors. SLIM band index: the candidate dedup runs on 16-byte id
    * pairs, the persist holds ids instead of 64-double arrays, and the
    * vectors join back only for the rerank — no exchange ever carries
    * an embedding (the old wide form measured 47.3 s vs s15's 5.8 s on
    * the 150-query sf10 chain). The eager checkpoint of the bounded
    * id-pair frame lets the band index unpersist before returning. */
  private def lshScored(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val bandSlim = corpus(s, dir)
      .select(col("vec_id"),
        graft.functions.HyperplaneBandKeys.keys(col("v"), 4, 4, Dims)
          .as("bks"))
      .select(col("vec_id"), explode(col("bks")).as("bk"))
      .persist()
    val candIds = bandSlim.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("bk"))
      .join(bandSlim, Seq("bk"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .localCheckpoint(true)
    bandSlim.unpersist()
    val eSlim = corpus(s, dir).select(col("vec_id"), col("v"), col("nrm"))
    val qv = broadcast(eSlim.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")))
    candIds
      .join(qv, Seq("query_id"))
      .join(eSlim, Seq("vec_id"))
      .withColumn("cos", round(Text.dot(col("qv"), col("v")) /
        (col("qnrm") * col("nrm")), 6))
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** DuckDB CTE chain `e / sig / banded` reproducing the hyperplane
    * LSH index arithmetic (planeWeight's md5("p:d") first-byte parity
    * signs, 4 bands of 4 signature bits) — THE one SQL rendering,
    * shared by s2's and s10's oracles so a hyperplane tweak cannot
    * drift them apart. Parity of the digest's first byte == parity of
    * its second hex digit, hence the strpos('13579bdf', ...) test. */
  private def lshSqlCtes: String = s"""e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), sig AS (
        SELECT vec_id, v,
          list_sum(list_transform(range(0, $Planes), p ->
            CASE WHEN list_sum(list_transform(range(0, $Dims), d ->
              v[CAST(d+1 AS INT)] *
                (CASE WHEN strpos('13579bdf',
                    substr(md5(p || ':' || d), 2, 1)) > 0
                  THEN -1.0 ELSE 1.0 END))) >= 0
            THEN (1 << p) ELSE 0 END)) AS s
        FROM e
      ), banded AS (
        SELECT vec_id, v, unnest(list_transform(range(0, 4), b ->
          CAST(b AS VARCHAR) || ':' ||
            CAST((s >> CAST(4*b AS INT)) & 15 AS VARCHAR))) AS bk
        FROM sig
      )"""

  private val baseDefs: Map[String, QueryDef] = Map(

    // ---- s1: exact brute-force cosine top-k for a query set
    "s1_ann_bruteforce" -> QueryDef(
      (s, dir) => {
        val e = corpus(s, dir)
        val q = broadcast(e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qnrm")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        q.join(e, col("query_id") =!= col("vec_id"))
          .withColumn("cos", round(Text.dot(col("qv"), col("v")) /
            (col("qnrm") * col("nrm")), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cos"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries
      ), scored AS (
        SELECT query_id, vec_id AS neighbor_id,
          round(
            list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(qv, x -> x*x))) *
             sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
        FROM q JOIN e ON query_id <> vec_id
      ), ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      SELECT query_id, neighbor_id, cos, rank FROM ranked
      WHERE rank <= $TopK ORDER BY query_id, rank""")),

    // ---- s2: random-hyperplane LSH candidate generation + exact rerank
    "s2_ann_lsh" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        lshScored(s, dir)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cos"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      // the hyperplane signature is a pure deterministic function of the
      // vector (+-1 planes from planeWeight's arithmetic), so the whole
      // LSH path — signatures, band keys, candidate join, exact rerank —
      // reproduces in SQL ([[lshSqlCtes]], shared with s10); dot
      // products fold in array order in both engines, so sign bits and
      // cosines agree bitwise
      Some(s"""WITH $lshSqlCtes, q AS (
        SELECT vec_id AS query_id, v AS qv, bk FROM banded
        WHERE vec_id < $NumQueries
      ), cands AS (
        SELECT DISTINCT query_id, qv, b.vec_id, b.v
        FROM q JOIN banded b USING (bk) WHERE query_id <> b.vec_id
      ), scored AS (
        SELECT query_id, vec_id AS neighbor_id,
          round(list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(qv, x -> x*x))) *
             sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
        FROM cands
      ), ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      SELECT query_id, neighbor_id, cos, rank FROM ranked
      WHERE rank <= $TopK ORDER BY query_id, rank""")),

    // ---- s3: IVF with per-label centroid cells, nprobe=2 + exact rerank
    "s3_ann_ivf" -> QueryDef(
      (s, dir) => {
        val e = corpus(s, dir)
        // centroids: decimal-mean per (label, dim), tiny result -> broadcast
        val cent = e
          .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("x").cast("decimal(30,15)")) / count(lit(1)))
            .cast("double").as("m"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("label").as("cell"),
            expr("transform(pm, s -> s.m)").as("cv"))
        val qs = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        // probe the 2 nearest cells per query
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("ccos").desc, col("cell"))
        val probes = qs.join(broadcast(cent))
          .withColumn("ccos", Text.cosine(col("qv"), col("cv")))
          .withColumn("crk", row_number().over(wProbe))
          .filter(col("crk") <= 2)
          .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))
        // search only vectors in probed cells (key-equality join)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        probes.join(e, col("cell") === col("label"))
          .filter(col("query_id") =!= col("vec_id"))
          .withColumn("cos", round(Text.dot(col("qv"), col("v")) /
            (col("qnrm") * col("nrm")), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cos"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      // per-label decimal-mean centroids, nprobe=2 by centroid cosine,
      // exact rerank — all SQL; the final values depend only on the
      // probed cell SETS (robust) and the bit-identical rerank cosines
      Some(s"""WITH e AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), centp AS (
        SELECT label, d AS pos,
          CAST(sum(CAST(v[CAST(d AS INT)] AS DECIMAL(30,15))) / count(*)
            AS DOUBLE) AS m
        FROM e, range(1, ${Dims + 1}) t(d)
        GROUP BY label, d
      ), cent AS (
        SELECT label AS cell, list(m ORDER BY pos) AS cv
        FROM centp GROUP BY label
      ), qs AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries
      ), probes AS (
        SELECT query_id, qv, cell FROM (
          SELECT query_id, qv, cell,
            row_number() OVER (PARTITION BY query_id ORDER BY
              list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2])) /
              (sqrt(list_sum(list_transform(qv, x -> x*x))) *
               sqrt(list_sum(list_transform(cv, x -> x*x)))) DESC,
              cell) AS crk
          FROM qs CROSS JOIN cent)
        WHERE crk <= 2
      ), scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
          round(list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(qv, x -> x*x))) *
             sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
        FROM probes JOIN e ON probes.cell = e.label
        WHERE query_id <> e.vec_id
      ), ranked AS (
        SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
      )
      SELECT query_id, neighbor_id, cos, rank FROM ranked
      WHERE rank <= $TopK ORDER BY query_id, rank""")),

    // ---- s4: distributed k-means over the embedding corpus (Lloyd's
    //      algorithm, the learned-centroid path that IVF cell files are
    //      built from at scale). All arithmetic is exact 64-bit integer:
    //      components are scaled to 1e-6 units up front, distances are
    //      integer sums of squares, and the centroid update does one
    //      deterministic half-up rounding per component — so every
    //      iteration is bit-identical across engines, partitionings and
    //      cluster sizes (no float-summation-order nondeterminism).
    //      Scale shape per iteration: centroids are a K*Dims frame
    //      (tiny, broadcast); the corpus melt is the only big table and
    //      it flows through one broadcast join + two map-side-combined
    //      aggregations — no corpus self-join anywhere.
    "s4_kmeans_embeddings" -> QueryDef(
      (s, dir) => {
        val m = kmeansMelt(s, dir)
        assignToCentroids(m, kmeansCentroids(s, dir))
          .select(col("vec_id"), col("k").as("cluster"),
            col("dist").as("sq_dist_e12"))
          .orderBy(col("vec_id"))
      },
      Some(kmeansOracleSql)),

    // ---- s5: IVF over the LEARNED k-means centroids (s4's cells) —
    //      the full scale-path ANN index: cluster the corpus once,
    //      assign every vector to its nearest centroid (the "inverted
    //      file"), then answer queries by probing only the nprobe
    //      nearest cells and exact-reranking inside them. Candidate
    //      generation is a key-equality join on the cell id; the
    //      centroid table is K*Dims rows — broadcast — so no stage
    //      touches more than (corpus/K)*nprobe rows per query.
    "s5_ann_ivf_kmeans" -> QueryDef(
      (s, dir) => {
        val m = kmeansMelt(s, dir)
        val cents = kmeansCentroids(s, dir)
        val cells = assignToCentroids(m, cents).select(col("vec_id"), col("k"))
        val e = corpus(s, dir)
        // query -> nprobe nearest cells, by the same integer metric the
        // index was built with (ties -> lower cell id)
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("cdist"), col("k"))
        val probes = m.filter(col("vec_id") < NumQueries)
          .join(broadcast(cents), "d")
          .groupBy(col("vec_id").as("query_id"), col("k"))
          .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6")))
            .as("cdist"))
          .withColumn("crk", row_number().over(wProbe))
          .filter(col("crk") <= IvfNprobe)
          .select(col("query_id"), col("k"))
        val qs = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))
        probes.join(cells, "k")
          .filter(col("query_id") =!= col("vec_id"))
          .join(e, "vec_id")
          .join(broadcast(qs), "query_id")
          .withColumn("cos", round(Text.dot(col("qv"), col("v")) /
            (col("qnrm") * col("nrm")), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cos"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(ivfKmeansOracleSql)),

    // ---- s6: product-quantization ANN (ADC scan) — the memory-scale
    //      path: each vector compresses to M sub-codes (8 sub-codes of
    //      4 bits each — PqM=8, PqK=16 — vs 64 floats), and queries
    //      score candidates through a
    //      per-query lookup table of query-subvector→sub-centroid
    //      distances (asymmetric distance computation), so the scan
    //      touches codes only, never raw vectors. At 100 TB this is
    //      what keeps an ANN index in memory: codes are ~50× smaller
    //      than the embeddings. Every join is key-equality — the
    //      (sub, code) probe against a broadcast NumQueries×M×K
    //      table — and the arithmetic is integer-exact end-to-end, so
    //      the DuckDB oracle reproduces codebooks, code assignments,
    //      and ADC scores bit-for-bit.
    "s6_ann_pq" -> QueryDef(
      (s, dir) => {
        val m = pqMelt(s, dir)
        val cents = pqCodebooks(s, dir)
        val codes = assignToCentroids(m, cents, PqKeys)
          .select(col("vec_id"), col("sub"), col("k"))
        // per-query ADC table: dist from each query subvector to each
        // sub-centroid — NumQueries*M*K rows, broadcast
        val qd = m.filter(col("vec_id") < NumQueries)
          .join(broadcast(cents), Seq("sub", "d"))
          .groupBy(col("vec_id").as("query_id"), col("sub"), col("k"))
          .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6")))
            .as("dist"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))
        codes.join(broadcast(qd), Seq("sub", "k"))
          .filter(col("query_id") =!= col("vec_id"))
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(sum(col("dist")).as("adc"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("neighbor_id"),
            col("adc").as("adc_e12"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(pqOracleSql)),

    // ---- s7: IVFADC — the canonical production ANN shape (Jégou et
    //      al. 2011; the FAISS default): the IVF index (s4/s5's learned
    //      k-means cells) prunes the corpus to nprobe cells per query,
    //      and scoring inside the shortlist reads PQ CODES only via the
    //      broadcast ADC lookup table (s6). The scan cost per query is
    //      (corpus/K)·nprobe code-rows — no raw vectors anywhere in the
    //      search path; both index structures are the already-
    //      materialized ones (one k-means build, one codebook build,
    //      shared with s4/s5/s6 — exactly how a production index is
    //      built once and served by every query shape).
    "s7_ann_ivfadc" -> QueryDef(
      (s, dir) => {
        val m = kmeansMelt(s, dir)
        val cents = kmeansCentroids(s, dir)
        val cells = assignToCentroids(m, cents).select(col("vec_id"), col("k"))
        // nprobe nearest cells per query (same integer metric as s5)
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("cdist"), col("k"))
        val probes = m.filter(col("vec_id") < NumQueries)
          .join(broadcast(cents), "d")
          .groupBy(col("vec_id").as("query_id"), col("k"))
          .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6")))
            .as("cdist"))
          .withColumn("crk", row_number().over(wProbe))
          .filter(col("crk") <= IvfNprobe)
          .select(col("query_id"), col("k"))
        // PQ codes + per-query ADC table (shared codebooks)
        val pm = pqMelt(s, dir)
        val pqc = pqCodebooks(s, dir)
        val codes = assignToCentroids(pm, pqc, PqKeys)
          .select(col("vec_id"), col("sub"), col("k").as("code"))
        val qd = pm.filter(col("vec_id") < NumQueries)
          .join(broadcast(pqc), Seq("sub", "d"))
          .groupBy(col("vec_id").as("query_id"), col("sub"),
            col("k").as("code"))
          .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6")))
            .as("dist"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("neighbor_id"))
        probes.join(cells, "k") // shortlist: members of probed cells
          .filter(col("query_id") =!= col("vec_id"))
          .join(codes, "vec_id")
          .join(broadcast(qd), Seq("query_id", "sub", "code"))
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(sum(col("dist")).as("adc"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= TopK)
          .select(col("query_id"), col("neighbor_id"),
            col("adc").as("adc_e12"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $kmeansCtes, $pqCtes, cells AS (
        SELECT vec_id, k FROM (
          SELECT vec_id, k,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
          FROM fin) WHERE rn = 1
      ), probes AS (
        SELECT vec_id AS query_id, k FROM (
          SELECT vec_id, k,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
          FROM fin WHERE vec_id < $NumQueries) WHERE rn <= $IvfNprobe
      ), shortlist AS (
        SELECT p.query_id, c.vec_id FROM probes p JOIN cells c USING (k)
        WHERE p.query_id <> c.vec_id
      ), ivfadc AS (
        SELECT s.query_id, s.vec_id AS neighbor_id,
          CAST(sum(qd.dist) AS BIGINT) AS adc
        FROM shortlist s
        JOIN codes ON codes.vec_id = s.vec_id
        JOIN qd ON qd.query_id = s.query_id
          AND qd.sub = codes.sub AND qd.k = codes.k
        GROUP BY 1, 2
      )
      SELECT query_id, neighbor_id, adc AS adc_e12, rank FROM (
        SELECT query_id, neighbor_id, adc,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adc, neighbor_id) AS rank
        FROM ivfadc) WHERE rank <= $TopK
      ORDER BY query_id, rank""")),

    // ---- s8: corpus-wide kNN graph — every vector's top-K nearest
    //      neighbors, the graph primitive under NN-descent refinement,
    //      graph-based ANN serving, and cluster-free semantic dedup.
    //      Candidates come from the SHARED d5/d9 embedding pair
    //      checkpoint ([[graft.dedup.DedupQueries.embeddingPairs]]):
    //      exact all-pairs below NearDupBruteMax, mean-centered
    //      adaptive-bits hyperplane LSH above — so the graph build
    //      inherits every scale guard that family already proved
    //      (bits-per-band grow with n to hold per-bucket quadratics
    //      constant, hot-bucket cap, pair dedup) and costs ONE window
    //      over the candidate table on top of the checkpoint every
    //      other consumer shares. Per-vector candidate lists are
    //      bounded by bands x bucket cap, so the rank window never
    //      sorts a corpus-sized partition. Approximate above the brute
    //      gate exactly as d5 documents (recall = the band-collision
    //      probability at the pair's centered angular similarity);
    //      isolated vectors (no surviving candidate) have no edges, as
    //      in any LSH-built graph.
    "s8_knn_graph" -> QueryDef(
      (s, dir) => {
        val p = graft.dedup.DedupQueries.embeddingPairs(s, dir)
        val sym = p.select(col("vec1").as("vec_id"),
            col("vec2").as("neighbor_id"), col("cos"))
          .unionByName(p.select(col("vec2").as("vec_id"),
            col("vec1").as("neighbor_id"), col("cos")))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))
        sym.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= KnnGraphK)
          .orderBy(col("vec_id"), col("rank"))
      },
      Some(s"""-- same exact-oracle bound as d5/d9: brute pair twin,
      -- valid while count(embeddings) <= ${graft.dedup.DedupQueries.NearDupBruteMax}
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
      ), sym AS (
        SELECT vec1 AS vec_id, vec2 AS neighbor_id, cos FROM p
        UNION ALL
        SELECT vec2, vec1, cos FROM p
      )
      SELECT vec_id, neighbor_id, cos, rank FROM (
        SELECT vec_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, neighbor_id) AS rank
        FROM sym) WHERE rank <= $KnnGraphK
      ORDER BY vec_id, rank"""))
  )

  // ---- s9: ANN index quality report — the recall eval a team runs
  //      before trusting an approximate index: s2 (LSH) and s3 (IVF)
  //      graded against s1's exact brute-force ground truth. The three
  //      result sets are NumQueries×TopK-bounded at ANY corpus size
  //      (the corpus-proportional work is the indexes themselves,
  //      already built by the graded queries), so every join here is a
  //      broadcast over config-bounded frames. recall_micro is exact
  //      integer arithmetic; n_returned < n_truth shows candidate
  //      starvation (a bucket too small to fill top-k) separately from
  //      ranking misses. The oracle twin is COMPOSED from the three
  //      queries' own oracle strings, so the report can never drift
  //      from the queries it grades.
  /** The recall report over any set of (label -> baseDefs query)
    * methods, each graded against s1's exact truth — s9 instantiates
    * it for the uncompressed indexes (LSH/IVF), s12 for the compressed
    * ones (PQ/IVFADC). One shape, so the two reports can't diverge. */
  /** s1's exact brute-force truth table, materialized once per data
    * dir (the d2-pairs Materialize posture): FIVE audits grade against
    * the same truth (s9, s12, s13, s14, s15), and each previously
    * re-ran the full query × corpus brute scan just to learn it. The
    * stored frame is NumQueries × TopK rows — bounded at any corpus
    * size — and parquet round-trips its long/double columns exactly,
    * so the audits are byte-identical to recomputing. s1 itself still
    * computes its own plan from the parquet inputs (the timed query is
    * never fed its own checkpoint). */
  private def exactTruth(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.Materialize(s, s"s1-truth|$dir") {
      baseDefs("s1_ann_bruteforce").fn(s, dir)
    }

  /** A graded method's result frame, materialized once per data dir —
    * exactTruth's posture extended to the found side: s9 re-ran the
    * full s2 + s3 search pipelines and s12 the s6 + s7 pipelines just
    * to learn the NumQueries × TopK result sets they grade. The timed
    * method queries themselves still compute their own plans; only the
    * audits read the checkpoint. */
  private def methodResult(s: org.apache.spark.sql.SparkSession,
      dir: String, q: String): DataFrame =
    graft.core.Materialize(s, s"sim-result|$q|$dir") {
      baseDefs(q).fn(s, dir)
    }

  private def recallReport(s: org.apache.spark.sql.SparkSession,
      dir: String, methods: Seq[(String, String)]): DataFrame = {
    val truth = exactTruth(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val m = methods.map { case (label, q) =>
      methodResult(s, dir, q).select(lit(label).as("method"),
        col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    m.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(tot))
      .withColumn("recall_micro", expr("n_hits * 1000000 div n_truth"))
      .select(col("method"), col("n_truth"), col("n_returned"),
        col("n_hits"), col("recall_micro"))
      .orderBy(col("method"))
  }

  private def recallSql(methods: Seq[(String, String)]): String = {
    val s1 = baseDefs("s1_ann_bruteforce").oracle.get
    val ctes = methods.map { case (label, q) =>
      s"$label AS (SELECT query_id, neighbor_id FROM " +
        s"(${baseDefs(q).oracle.get}) t_$label)"
    }.mkString(",\n      ")
    val union = methods.map { case (label, _) =>
      s"SELECT '$label' AS method, query_id, neighbor_id FROM $label"
    }.mkString("\n            UNION ALL\n            ")
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($s1) t1),
      $ctes,
      m AS ($union),
      tot AS (SELECT count(*) AS n_truth FROM truth)
    SELECT method, n_truth,
      CAST(count(*) AS BIGINT) AS n_returned,
      CAST(count(t.x) AS BIGINT) AS n_hits,
      CAST(count(t.x) * 1000000 // n_truth AS BIGINT) AS recall_micro
    FROM m LEFT JOIN (SELECT query_id, neighbor_id, 1 AS x FROM truth) t
      USING (query_id, neighbor_id) CROSS JOIN tot
    GROUP BY method, n_truth ORDER BY method"""
  }

  private val s9Methods = Seq("lsh" -> "s2_ann_lsh", "ivf" -> "s3_ann_ivf")

  /** s12: the compressed-index half of the recall audit — PQ and
    * IVFADC rank by quantized ADC distance, so their misses are code-
    * distortion misses (s9's are candidate-starvation misses); a team
    * sizing M x K or nprobe reads THIS report. Same shape, same truth,
    * same bounded frames as s9. */
  private val s12Methods = Seq("ivfadc" -> "s7_ann_ivfadc", "pq" -> "s6_ann_pq")

  private def s9Recall(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = recallReport(s, dir, s9Methods)

  private def s9Sql: String = recallSql(s9Methods)

  /** s10 radius grid, in cosine micro. 0.2 catches the random-noise
    * tail, 0.5/0.8 isolate genuinely-near vectors (planted near-dups
    * sit close to 1.0) — the three operating points a radius-recall
    * calibration wants. A knob, not a shape: the grid only scales the
    * bounded report frame (NumQueries x |grid| rows). */
  val RangeRadiiMicro: Seq[Long] = Seq(200000L, 500000L, 800000L)

  // ---- s10: range search — FAISS's `range_search` next to s2's
  //      `search`: all neighbors within a cosine radius instead of a
  //      fixed top-k, the API a dedup-threshold or recall-calibration
  //      pass wants. Candidates come from the SAME 4-band hyperplane
  //      LSH key-equality join as s2 (per-query work is a bucket, not
  //      the corpus; recall posture documented there), scored exactly,
  //      then counted per (query, radius) over a bounded grid frame —
  //      queries with an empty radius shell stay in-frame with
  //      n_in_range = 0 (left join from the grid, nearest_id = -1).
  //      Output is NumQueries x |grid| rows at any corpus size. The
  //      oracle reproduces the full LSH arithmetic in SQL (s2's twin),
  //      so the report is hash-exact, not rows-only.
  private def s10Range(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val scored = lshScored(s, dir)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cos").as("best_cos"),
        col("vec_id").as("best_id"))
    val grid = corpus(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"))
      .crossJoin(broadcast(RangeRadiiMicro.toDF("radius_micro")))
    val counts = scored
      .crossJoin(broadcast(RangeRadiiMicro.toDF("radius_micro")))
      .filter(col("cos") >= col("radius_micro").cast("double") / 1e6)
      .groupBy(col("query_id"), col("radius_micro"))
      .agg(count(lit(1)).as("n"))
    grid.join(counts, Seq("query_id", "radius_micro"), "left")
      .join(broadcast(best), Seq("query_id"), "left")
      .select(col("query_id"), col("radius_micro"),
        coalesce(col("n"), lit(0L)).as("n_in_range"),
        when(col("n").isNotNull, col("best_cos")).as("max_cos"),
        coalesce(when(col("n").isNotNull, col("best_id")), lit(-1L))
          .as("nearest_id"))
      .orderBy(col("query_id"), col("radius_micro"))
  }

  private def s10Sql: String = {
    val radii = RangeRadiiMicro.map(r => s"($r)").mkString(", ")
    s"""WITH $lshSqlCtes, q AS (
        SELECT vec_id AS query_id, v AS qv, bk FROM banded
        WHERE vec_id < $NumQueries
      ), scored AS (
        SELECT query_id, vec_id,
          round(list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2])) /
            (sqrt(list_sum(list_transform(qv, x -> x*x))) *
             sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
        FROM (SELECT DISTINCT query_id, qv, b.vec_id, b.v
              FROM q JOIN banded b USING (bk) WHERE query_id <> b.vec_id)
      ), best AS (
        SELECT query_id, cos AS best_cos, vec_id AS best_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id) AS rn FROM scored)
        WHERE rn = 1
      ), grid AS (
        SELECT vec_id AS query_id, radius_micro
        FROM e CROSS JOIN (VALUES $radii) r(radius_micro)
        WHERE vec_id < $NumQueries
      ), counts AS (
        SELECT query_id, radius_micro, count(*) AS n
        FROM scored CROSS JOIN (VALUES $radii) r(radius_micro)
        WHERE cos >= radius_micro / 1000000.0
        GROUP BY 1, 2
      )
      SELECT g.query_id, CAST(g.radius_micro AS BIGINT) AS radius_micro,
        CAST(coalesce(c.n, 0) AS BIGINT) AS n_in_range,
        CASE WHEN c.n IS NOT NULL THEN b.best_cos END AS max_cos,
        coalesce(CASE WHEN c.n IS NOT NULL THEN b.best_id END, -1)
          AS nearest_id
      FROM grid g
      LEFT JOIN counts c USING (query_id, radius_micro)
      LEFT JOIN best b ON g.query_id = b.query_id
      ORDER BY g.query_id, g.radius_micro"""
  }

  // ---- s11: cluster quality report — the QC a team reads before
  //      trusting s4's clustering for IVF routing (s3/s5/s7) or
  //      semantic dedup (d11): per cluster its population, the mean
  //      and worst cohesion (integer-micro cosine to own centroid,
  //      off d11's exact integer sums — the SAME arithmetic, so this
  //      report and the dedup pass can't disagree), and the nearest
  //      other centroid with its cosine (low separation = clusters
  //      that should merge; routing between them starves nprobe).
  //      Costs one map-side-combined agg over the shared melt +
  //      K- and K²-bounded frames; the centroid pair pass is a
  //      key-equality join on the dimension, never a cartesian.
  private def s11Cluster(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val m = kmeansMelt(s, dir)
    val cents = kmeansCentroids(s, dir)
    val cells = assignToCentroids(m, cents).select(col("vec_id"), col("k"))
    val sums = m.join(cells, "vec_id")
      .join(broadcast(cents), Seq("k", "d"))
      .groupBy(col("vec_id"), col("k"))
      .agg(sum(col("x6") * col("c6")).as("sxc"),
        sum(col("x6") * col("x6")).as("sxx"),
        sum(col("c6") * col("c6")).as("scc"))
    val perVec = sums.withColumn("cm",
      floor(col("sxc").cast("double") /
        (sqrt(col("sxx").cast("double")) * sqrt(col("scc").cast("double")))
        * 1e6 + lit(0.5)).cast("long"))
    val perCluster = perVec.groupBy(col("k"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(cm) div count(1)").as("mean_cos_micro"),
        min(col("cm")).as("min_cos_micro"))
    val cpairs = cents.as("a")
      .join(cents.as("b"),
        col("a.d") === col("b.d") && col("a.k") =!= col("b.k"))
      .groupBy(col("a.k").as("k"), col("b.k").as("k2"))
      .agg(sum(col("a.c6") * col("b.c6")).as("sab"),
        sum(col("a.c6") * col("a.c6")).as("saa"),
        sum(col("b.c6") * col("b.c6")).as("sbb"))
      .withColumn("ccm", floor(col("sab").cast("double") /
        (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double")))
        * 1e6 + lit(0.5)).cast("long"))
    val w = Window.partitionBy(col("k")).orderBy(col("ccm").desc, col("k2"))
    val nearest = cpairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("k"), col("k2").as("nearest_cluster"),
        col("ccm").as("nearest_centroid_cos_micro"))
    perCluster.join(broadcast(nearest), Seq("k"), "left")
      .select(col("k").as("cluster"), col("n_vectors"),
        col("mean_cos_micro"), col("min_cos_micro"),
        col("nearest_cluster"), col("nearest_centroid_cos_micro"))
      .orderBy(col("cluster"))
  }

  private def s11Sql: String =
    s"""WITH $kmeansCtes, cells AS (
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
        JOIN c$KmeansIters c ON c.k = cl.k AND c.d = m.d
        GROUP BY 1, 2
      ), pv AS (
        SELECT vec_id, k,
          CAST(floor(CAST(sxc AS DOUBLE) /
            (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS cm
        FROM sums
      ), pc AS (
        SELECT k, count(*) AS n_vectors,
          CAST(sum(cm) // count(*) AS BIGINT) AS mean_cos_micro,
          min(cm) AS min_cos_micro
        FROM pv GROUP BY 1
      ), cp AS (
        SELECT a.k AS k, b.k AS k2,
          CAST(floor(CAST(sum(a.x6 * b.x6) AS DOUBLE) /
            (sqrt(CAST(sum(a.x6 * a.x6) AS DOUBLE)) *
             sqrt(CAST(sum(b.x6 * b.x6) AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS ccm
        FROM c$KmeansIters a JOIN c$KmeansIters b
          ON a.d = b.d AND a.k <> b.k
        GROUP BY 1, 2
      ), near AS (
        SELECT k, k2 AS nearest_cluster,
          ccm AS nearest_centroid_cos_micro FROM (
          SELECT *, row_number() OVER (PARTITION BY k
            ORDER BY ccm DESC, k2) AS rn FROM cp) WHERE rn = 1
      )
      SELECT pc.k AS cluster, n_vectors, mean_cos_micro, min_cos_micro,
        nearest_cluster, nearest_centroid_cos_micro
      FROM pc LEFT JOIN near USING (k) ORDER BY pc.k"""

  val defs: Map[String, QueryDef] =
    baseDefs +
      ("s9_ann_recall" -> QueryDef(s9Recall, Some(s9Sql))) +
      ("s10_range_search" -> QueryDef(s10Range, Some(s10Sql))) +
      ("s11_cluster_report" -> QueryDef(s11Cluster, Some(s11Sql))) +
      ("s12_pq_recall" -> QueryDef(
        (s, dir) => recallReport(s, dir, s12Methods),
        Some(recallSql(s12Methods)))) +
      ("s13_matryoshka_recall" -> QueryDef(s13Matryoshka, Some(s13Sql))) +
      ("s14_sq_recall" -> QueryDef(s14Sq, Some(s14Sql))) +
      ("s15_multiprobe_recall" -> QueryDef(s15Multiprobe, Some(s15Sql)))

  // ---- s13: Matryoshka / truncated-dimension recall — the adaptive-
  //      retrieval question: how much of the exact 64-dim top-k does a
  //      PREFIX of the embedding recover? (MRL-trained embeddings are
  //      served truncated at 1/8-1/2 width to cut index bytes and dot
  //      cost; this report is the evidence a width is safe.) For each
  //      prefix width, brute-force top-k on the sliced vectors graded
  //      against s1's full-width exact truth, s9's report shape. The
  //      result sets are NumQueries×TopK-bounded at any corpus size;
  //      the per-width scoring joins are broadcast-query × corpus scans
  //      exactly like s1 (at 100 TB the same widths would ride the LSH
  //      bucketed path instead of brute force — the report's CONTRACT
  //      is the grade, not the search strategy). A zero prefix (all
  //      leading dims 0) nullif-guards the cosine in both engines; NULL
  //      cos ranks last under DESC in both.
  private def MatryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  private def s13Matryoshka(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e = corpus(s, dir)
    val truth = exactTruth(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val per = MatryoshkaDims.map { d =>
      val ed = e.select(col("vec_id"), slice(col("v"), 1, d).as("vd"))
        .withColumn("nrm", Text.norm(col("vd")))
      val q = broadcast(ed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("vd").as("qv"),
          col("nrm").as("qnrm")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      q.join(ed, col("query_id") =!= col("vec_id"))
        .withColumn("cos", round(Text.dot(col("qv"), col("vd")) /
          expr("nullif(qnrm * nrm, CAST(0 AS DOUBLE))"), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(lit(d.toLong).as("trunc_dims"), col("query_id"),
          col("vec_id").as("neighbor_id"))
    }.reduce(_ unionByName _)
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    per.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("trunc_dims"))
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(tot))
      .withColumn("recall_micro", expr("n_hits * 1000000 div n_truth"))
      .select(col("trunc_dims"), col("n_truth"), col("n_returned"),
        col("n_hits"), col("recall_micro"))
      .orderBy(col("trunc_dims"))
  }

  // ---- s14: scalar-quantization (SQ8) recall — the remaining member
  //      of the compression family (s6 PQ / s7 IVFADC / s13 MRL): each
  //      dimension independently quantized to a byte on its own
  //      [min, max] grid, the FAISS SQ8 shape that cuts index bytes 4×
  //      against float32 with no codebook training. Asymmetric search
  //      (exact query vs reconstructed corpus — the served form),
  //      graded against s1's exact truth in s9's report shape.
  //      PORTABILITY: quantization runs entirely in integer micro
  //      space — components land on the 1e-6 grid (p14's contract),
  //      min/max/code/reconstruction are exact 64-bit arithmetic in
  //      both engines, and only the final cosine is FP (s1's own
  //      contract). Scale shape: one corpus melt (×Dims, p14's budget)
  //      + a Dims-row broadcast grid join + one groupBy to reassemble
  //      — no pairwise step beyond the whitelisted brute grade.
  private def s14Sq(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e = Tables.table(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("xq"))
    val melt = e.select(col("vec_id"),
      posexplode(col("xq")).as(Seq("pos", "x")))
    val mm = melt.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val recon = melt.join(broadcast(mm), "pos")
      .withColumn("rx", expr(
        """mn + coalesce(((x - mn) * 255 div nullif(mx - mn, 0L))
            * (mx - mn) div 255, 0L)"""))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("rx"))))
        .getField("rx").as("rvl"))
      .select(col("vec_id"),
        transform(col("rvl"), x => x.cast("double")).as("rv"))
      .withColumn("nrm", Text.norm(col("rv")))
    val q = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        transform(col("xq"), x => x.cast("double")).as("qv"))
      .withColumn("qnrm", Text.norm(col("qv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val found = q.join(recon, col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(Text.dot(col("qv"), col("rv")) /
        expr("nullif(qnrm * nrm, CAST(0 AS DOUBLE))"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val truth = exactTruth(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    found.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .withColumn("method", lit("sq8"))
      .crossJoin(broadcast(tot))
      .withColumn("recall_micro", expr("n_hits * 1000000 div n_truth"))
      .select(col("method"), col("n_truth"), col("n_returned"),
        col("n_hits"), col("recall_micro"))
  }

  private def s14Sql: String = {
    val s1 = baseDefs("s1_ann_bruteforce").oracle.get
    s"""WITH e AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xq
        FROM embeddings WHERE embedding IS NOT NULL
      ), m AS (
        SELECT vec_id, generate_subscripts(xq, 1) - 1 AS pos,
          unnest(xq) AS x
        FROM e
      ), mm AS (
        SELECT pos, min(x) AS mn, max(x) AS mx FROM m GROUP BY 1
      ), r AS (
        SELECT vec_id,
          list(CAST(mn + coalesce(((x - mn) * 255 // nullif(mx - mn, 0))
              * (mx - mn) // 255, 0) AS DOUBLE) ORDER BY pos) AS rv
        FROM m JOIN mm USING (pos) GROUP BY vec_id
      ), q AS (
        SELECT vec_id AS query_id,
          list_transform(xq, x -> CAST(x AS DOUBLE)) AS qv
        FROM e WHERE vec_id < $NumQueries
      ), scored AS (
        SELECT query_id, r.vec_id AS neighbor_id,
          round(
            list_sum(list_transform(list_zip(qv, rv), x -> x[1] * x[2])) /
            nullif(sqrt(list_sum(list_transform(qv, x -> x*x))) *
              sqrt(list_sum(list_transform(rv, x -> x*x))), 0), 6) AS cos
        FROM q JOIN r ON query_id <> r.vec_id
      ), found AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= $TopK
      ), truth AS (SELECT query_id, neighbor_id FROM ($s1) t1),
      tot AS (SELECT count(*) AS n_truth FROM truth)
    SELECT 'sq8' AS method, n_truth,
      CAST(count(*) AS BIGINT) AS n_returned,
      CAST(count(t.x) AS BIGINT) AS n_hits,
      CAST(count(t.x) * 1000000 // n_truth AS BIGINT) AS recall_micro
    FROM found LEFT JOIN (SELECT query_id, neighbor_id, 1 AS x FROM truth) t
      USING (query_id, neighbor_id) CROSS JOIN tot
    GROUP BY n_truth"""
  }

  private def s13Sql: String = {
    val s1 = baseDefs("s1_ann_bruteforce").oracle.get
    val blocks = MatryoshkaDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS trunc_dims, query_id, neighbor_id
          FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM (
              SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                round(list_sum(list_transform(
                    list_zip(q.v[1:$d], b.v[1:$d]), x -> x[1] * x[2])) /
                  nullif(sqrt(list_sum(list_transform(q.v[1:$d],
                      x -> x*x))) *
                    sqrt(list_sum(list_transform(b.v[1:$d], x -> x*x))),
                    0), 6) AS cos
              FROM e q JOIN e b
                ON q.vec_id < $NumQueries AND q.vec_id <> b.vec_id
            ) sc$d
          ) r$d WHERE rank <= $TopK"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), truth AS (SELECT query_id, neighbor_id FROM ($s1) t1),
      tot AS (SELECT count(*) AS n_truth FROM truth),
      m AS ($blocks)
    SELECT trunc_dims, n_truth,
      CAST(count(*) AS BIGINT) AS n_returned,
      CAST(count(t.x) AS BIGINT) AS n_hits,
      CAST(count(t.x) * 1000000 // n_truth AS BIGINT) AS recall_micro
    FROM m LEFT JOIN (SELECT query_id, neighbor_id, 1 AS x FROM truth) t
      USING (query_id, neighbor_id) CROSS JOIN tot
    GROUP BY trunc_dims, n_truth ORDER BY trunc_dims"""
  }

  /** Subspaced melt for PQ: (vec_id, sub, d, x6), sub = d div subDim. */
  private def pqMelt(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    kmeansMelt(s, dir)
      .withColumn("sub", (col("d") / lit(Dims / PqM)).cast("long"))

  /** DuckDB twin of the PQ chain: subspaced Lloyd loop (pd/pa/pc),
    * final code assignment, and the ADC join — `qd` falls out of the
    * same `pfin` distance table the codes come from. */
  private def pqCtes: String = {
    val subDim = Dims / PqM
    val iters = (1 to PqIters).map { i =>
      s"""pd$i AS (
        SELECT m.vec_id, c.sub, c.k,
          CAST(sum((m.x6 - c.x6)*(m.x6 - c.x6)) AS BIGINT) AS dist
        FROM pm m JOIN pc${i - 1} c ON m.d = c.d AND m.sub = c.sub
        GROUP BY 1, 2, 3
      ), pa$i AS (
        SELECT vec_id, sub, k FROM (
          SELECT vec_id, sub, k,
            row_number() OVER (PARTITION BY vec_id, sub
              ORDER BY dist, k) AS rn
          FROM pd$i) WHERE rn = 1
      ), pc$i AS (
        SELECT a.sub, a.k, m.d,
          CAST(floor(CAST(sum(m.x6) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS x6
        FROM pa$i a JOIN pm m ON a.vec_id = m.vec_id AND a.sub = m.sub
        GROUP BY 1, 2, 3
      )"""
    }.mkString(", ")
    s"""pm AS (
      SELECT vec_id, d, d // $subDim AS sub, x6 FROM (
        SELECT vec_id, unnest(range(0, $Dims)) AS d,
          unnest(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 0.5) AS BIGINT))) AS x6
        FROM embeddings)
    ), pinit AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM pm ORDER BY vec_id LIMIT $PqK)
    ), pc0 AS (
      SELECT m.sub, i.k, m.d, m.x6 FROM pm m JOIN pinit i USING (vec_id)
    ), $iters, pfin AS (
      SELECT m.vec_id, c.sub, c.k,
        CAST(sum((m.x6 - c.x6)*(m.x6 - c.x6)) AS BIGINT) AS dist
      FROM pm m JOIN pc$PqIters c ON m.d = c.d AND m.sub = c.sub
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, sub, k FROM (
        SELECT vec_id, sub, k,
          row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
        FROM pfin) WHERE rn = 1
    ), qd AS (
      SELECT vec_id AS query_id, sub, k, dist FROM pfin
      WHERE vec_id < $NumQueries
    ), adc AS (
      SELECT qd.query_id, codes.vec_id AS neighbor_id,
        CAST(sum(qd.dist) AS BIGINT) AS adc
      FROM codes JOIN qd ON qd.sub = codes.sub AND qd.k = codes.k
      WHERE qd.query_id <> codes.vec_id GROUP BY 1, 2
    )"""
  }

  private def pqOracleSql: String =
    s"""WITH $pqCtes
    SELECT query_id, neighbor_id, adc AS adc_e12, rank FROM (
      SELECT query_id, neighbor_id, adc,
        row_number() OVER (PARTITION BY query_id
          ORDER BY adc, neighbor_id) AS rank
      FROM adc) WHERE rank <= $TopK
    ORDER BY query_id, rank"""


  /** Long-format scaled-integer melt of the embedding corpus:
    * (vec_id, d, x6) with x6 = half-up-rounded 1e6 * component — the
    * exact-arithmetic representation the k-means loop runs on. */
  def kmeansMelt(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        floor(col("x").cast("double") * 1e6 + 0.5).cast("long").as("x6"))

  /** Nearest-centroid assignment (vec_id, keys..., k, dist): one
    * broadcast join of the corpus melt against the centroid frame + two
    * map-side-combined aggregations, per `keys` group (Nil for s4's
    * whole-vector cells, [[PqKeys]] for PQ's per-subspace codes). Ties
    * break to the lower cell id via the lexicographic struct min. */
  def assignToCentroids(m: DataFrame, c: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val by = col("vec_id") +: keys.map(col)
    m.join(broadcast(c), keys :+ "d")
      .groupBy(by :+ col("k"): _*)
      .agg(sum((col("x6") - col("c6")) * (col("x6") - col("c6"))).as("dist"))
      .groupBy(by: _*)
      .agg(min(struct(col("dist"), col("k"))).as("a"))
      .select(by ++ Seq(col("a.k").as("k"), col("a.dist").as("dist")): _*)
  }

  /** Lloyd-trained centroids (k, d, c6), materialized once per dir —
    * s4 (assignments) and s5 (IVF probe + cells) share one training
    * run, as a production pipeline shares one index build. */
  def kmeansCentroids(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.Materialize(s, s"kmeans-cents|$dir") {
      lloyd(kmeansMelt(s, dir), Nil, KmeansK, KmeansIters)
    }

  /** PQ codebooks (sub, k, d, c6), materialized once per dir. */
  private def pqCodebooks(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.Materialize(s, s"pq-cents|$dir") {
      lloyd(pqMelt(s, dir), PqKeys, PqK, PqIters)
    }

  /** The integer-exact Lloyd loop over a melt, run per `keys` group:
    * `k` centroids (keys..., k, d, c6) after `iters` rounds. Initial
    * centroids are the `k` lowest vec_ids (deterministic seed, in every
    * group); the init window sorts a k-row frame, not the corpus. */
  private def lloyd(melt: DataFrame, keys: Seq[String], k: Int,
      iters: Int): DataFrame = {
    val m = melt.persist()
    val init = m.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(k)
      .withColumn("k", (row_number().over(
        Window.orderBy(col("vec_id"))) - 1).cast("long"))
    var cents = m.join(broadcast(init), "vec_id")
      .select(keys.map(col) ++ Seq(col("k"), col("d"),
        col("x6").as("c6")): _*)
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val a = assignToCentroids(m, cents, keys)
      cents = a.join(m, "vec_id" +: keys)
        .groupBy(keys.map(col) ++ Seq(col("k"), col("d")): _*)
        .agg(floor(sum(col("x6")).cast("double") / count(lit(1)) + 0.5)
          .cast("long").as("c6"))
        .localCheckpoint(true)
    }
    m.unpersist()
    cents
  }

  /** Shared DuckDB CTE chain reproducing the integer-exact Lloyd loop
    * (d_i = distances, a_i = argmin assignment, c_i = rounded centroid
    * update), ending with `fin` = distances against the trained
    * centroids `c{KmeansIters}`. */
  private[graft] def kmeansCtes: String = {
    val iters = (1 to KmeansIters).map { i =>
      s"""d$i AS (
        SELECT m.vec_id, c.k, CAST(sum((m.x6 - c.x6)*(m.x6 - c.x6)) AS BIGINT) AS dist
        FROM m JOIN c${i - 1} c ON m.d = c.d GROUP BY 1, 2
      ), a$i AS (
        SELECT vec_id, k FROM (
          SELECT vec_id, k,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
          FROM d$i) WHERE rn = 1
      ), c$i AS (
        SELECT a.k, m.d,
          CAST(floor(CAST(sum(m.x6) AS DOUBLE)/count(*) + 0.5) AS BIGINT) AS x6
        FROM a$i a JOIN m ON a.vec_id = m.vec_id GROUP BY 1, 2
      )"""
    }.mkString(", ")
    s"""m AS (
      SELECT vec_id, unnest(range(0, $Dims)) AS d,
        unnest(list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 0.5) AS BIGINT))) AS x6
      FROM embeddings
    ), init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM m ORDER BY vec_id LIMIT $KmeansK)
    ), c0 AS (
      SELECT init.k, m.d, m.x6 FROM m JOIN init USING (vec_id)
    ), $iters, fin AS (
      SELECT m.vec_id, c.k, CAST(sum((m.x6 - c.x6)*(m.x6 - c.x6)) AS BIGINT) AS dist
      FROM m JOIN c$KmeansIters c ON m.d = c.d GROUP BY 1, 2
    )"""
  }

  /** DuckDB twin of s4: nearest-centroid assignment off the shared
    * Lloyd chain. */
  private def kmeansOracleSql: String =
    s"""WITH $kmeansCtes
    SELECT vec_id, k AS cluster, dist AS sq_dist_e12 FROM (
      SELECT vec_id, k, dist,
        row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
      FROM fin) WHERE rn = 1
    ORDER BY vec_id"""

  /** DuckDB twin of s5: cells + probes off the shared Lloyd chain, then
    * the same double-precision cosine rerank as s1/s2/s3. */
  private def ivfKmeansOracleSql: String =
    s"""WITH $kmeansCtes, cells AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
        FROM fin) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, k FROM (
        SELECT vec_id, k,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
        FROM fin WHERE vec_id < $NumQueries) WHERE rn <= $IvfNprobe
    ), e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries
    ), scored AS (
      SELECT p.query_id, cl.vec_id AS neighbor_id,
        round(list_sum(list_transform(list_zip(qv, v), x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(qv, x -> x*x))) *
           sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
      FROM probes p JOIN cells cl ON p.k = cl.k
      JOIN e ON e.vec_id = cl.vec_id
      JOIN q ON q.query_id = p.query_id
      WHERE p.query_id <> cl.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rank FROM ranked
    WHERE rank <= $TopK ORDER BY query_id, rank"""

  // ---- s15: multi-probe LSH recall — the recall/cost knob that does
  //      NOT cost more index: each query probes its exact band keys
  //      (s2's candidates) PLUS the four 1-bit-flip neighbors of each
  //      4-bit band value (the multi-probe LSH idea — a near-miss sign
  //      bit is the most likely failure, so perturbed buckets hold the
  //      lost neighbors). Both methods graded against s1's exact truth
  //      in one report with the cost axis (n_cand_pairs) alongside —
  //      the evidence for choosing probes-vs-bands at a given recall.
  //      Scale shape: probe keys multiply the QUERY side only (x5 on a
  //      NumQueries-bounded frame); the corpus-side index is s2's
  //      unchanged, candidates stay key-equality joins, and both
  //      rankings ride ONE window over the shared scored frame (the
  //      band rank is a running count of unflipped-probe rows in the
  //      same global order — no second shuffle, no union recompute).
  private val ProbeMasks: Seq[Int] = Seq(0, 1, 2, 4, 8)

  private def s15Multiprobe(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e = corpus(s, dir)
    val sigd = e.withColumn("sig", sigCol(col("v")))
    val bandE = sigd.select(col("vec_id"),
      explode(array((0 until 4).map(b =>
        concat_ws(":", lit(b),
          expr(s"shiftright(sig, ${4 * b}) & 15"))): _*)).as("bk"))
    val probes = (for { b <- 0 until 4; m <- ProbeMasks } yield
      struct(lit(if (m == 0) 0L else 1L).as("probed"),
        concat_ws(":", lit(b),
          expr(s"(shiftright(sig, ${4 * b}) & 15) ^ $m")).as("pk"))).toSeq
    val q = sigd.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        explode(array(probes: _*)).as("p"))
      .select(col("query_id"), col("p.probed").as("probed"),
        col("p.pk").as("bk"))
    // one row per candidate pair; probed = 0 iff reachable WITHOUT a flip
    val pairs = q.join(bandE, Seq("bk"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("probed")).as("probed"))
    val qv = broadcast(e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val ranked = pairs.join(qv, "query_id")
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cos", round(Text.dot(col("qv"), col("v")) /
        (col("qnrm") * col("nrm")), 6))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("probed"), col("cos"))
      .withColumn("rnk_multi", row_number().over(w).cast("long"))
      .withColumn("rnk_band", sum(when(col("probed") === 0L, 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val truth = exactTruth(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    val one = ranked
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .agg(
        // every sum coalesced: a degenerate corpus (no band collision
        // at all — e.g. a single vector) leaves `pairs` EMPTY and a
        // global agg over zero rows returns NULL sums; both method
        // rows must then read 0, matching the oracle's VALUES-spine
        // LEFT JOIN (the r12 ADVICE parity edge)
        coalesce(sum(when(col("probed") === 0L, 1L).otherwise(0L)),
          lit(0L)).as("bc"),
        coalesce(sum(when(col("probed") === 0L &&
          col("rnk_band") <= TopK, 1L).otherwise(0L)), lit(0L)).as("br"),
        coalesce(sum(when(col("probed") === 0L &&
          col("rnk_band") <= TopK, col("hit"))), lit(0L)).as("bh"),
        count(lit(1)).as("mc"),
        coalesce(sum(when(col("rnk_multi") <= TopK, 1L).otherwise(0L)),
          lit(0L)).as("mr"),
        coalesce(sum(when(col("rnk_multi") <= TopK, col("hit"))),
          lit(0L)).as("mh"))
    one.select(explode(array(
        struct(lit("lsh_band").as("method"), col("bc").as("n_cand_pairs"),
          col("br").as("n_returned"), col("bh").as("n_hits")),
        struct(lit("lsh_multiprobe").as("method"),
          col("mc").as("n_cand_pairs"), col("mr").as("n_returned"),
          col("mh").as("n_hits")))).as("r"))
      .select(col("r.method").as("method"),
        col("r.n_returned").as("n_returned"),
        col("r.n_hits").as("n_hits"),
        col("r.n_cand_pairs").as("n_cand_pairs"))
      .crossJoin(broadcast(tot))
      .withColumn("recall_micro", expr("n_hits * 1000000 div n_truth"))
      .select(col("method"), col("n_truth"), col("n_returned"),
        col("n_hits"), col("recall_micro"), col("n_cand_pairs"))
      .orderBy(col("method"))
  }

  private def s15Sql: String = {
    val s1 = baseDefs("s1_ann_bruteforce").oracle.get
    s"""WITH $lshSqlCtes, pr AS (
      SELECT vec_id AS query_id,
        CAST(t.b AS VARCHAR) || ':' ||
          CAST(xor((s >> CAST(4 * t.b AS INT)) & 15, u.m) AS VARCHAR)
          AS bk,
        CASE WHEN u.m = 0 THEN 0 ELSE 1 END AS probed
      FROM sig, range(0, 4) t(b), (VALUES (0), (1), (2), (4), (8)) u(m)
      WHERE vec_id < $NumQueries
    ), pairs AS (
      SELECT p.query_id, b2.vec_id, min(p.probed) AS probed
      FROM pr p JOIN banded b2 USING (bk)
      WHERE p.query_id <> b2.vec_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT pa.query_id, pa.vec_id AS neighbor_id, pa.probed,
        round(list_sum(list_transform(list_zip(eq.v, ev.v),
            x -> x[1] * x[2])) /
          (sqrt(list_sum(list_transform(eq.v, x -> x*x))) *
           sqrt(list_sum(list_transform(ev.v, x -> x*x)))), 6) AS cos
      FROM pairs pa JOIN e eq ON pa.query_id = eq.vec_id
      JOIN e ev ON pa.vec_id = ev.vec_id
    ), m AS (
      SELECT 'lsh_band' AS method, query_id, neighbor_id, cos
      FROM scored WHERE probed = 0
      UNION ALL
      SELECT 'lsh_multiprobe', query_id, neighbor_id, cos FROM scored
    ), ranked AS (
      SELECT method, query_id, neighbor_id,
        row_number() OVER (PARTITION BY method, query_id
          ORDER BY cos DESC, neighbor_id) AS rnk
      FROM m
    ), topk AS (
      SELECT method, query_id, neighbor_id FROM ranked
      WHERE rnk <= $TopK
    ), cands AS (
      SELECT method, count(*) AS n_cand_pairs FROM m GROUP BY 1
    ), truth AS (SELECT query_id, neighbor_id FROM ($s1) t1),
    tot AS (SELECT count(*) AS n_truth FROM truth),
    -- static method spine (r12 ADVICE): a method with ZERO candidates
    -- has no topk/cands rows, so aggregating FROM topk would drop it
    -- while the engine's static 2-struct explode still emits it; the
    -- spine + coalesce pins both sides to the same zero row
    spine AS (SELECT * FROM (VALUES ('lsh_band'), ('lsh_multiprobe'))
      sp(method)),
    stats AS (
      SELECT k.method,
        CAST(count(*) AS BIGINT) AS n_returned,
        CAST(count(t.x) AS BIGINT) AS n_hits
      FROM topk k
      LEFT JOIN (SELECT query_id, neighbor_id, 1 AS x FROM truth) t
        USING (query_id, neighbor_id)
      GROUP BY k.method
    )
    SELECT spine.method, tot.n_truth,
      coalesce(st.n_returned, 0) AS n_returned,
      coalesce(st.n_hits, 0) AS n_hits,
      CAST(coalesce(st.n_hits, 0) * 1000000 // tot.n_truth AS BIGINT)
        AS recall_micro,
      CAST(coalesce(c.n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs
    FROM spine
    LEFT JOIN stats st ON st.method = spine.method
    LEFT JOIN cands c ON c.method = spine.method
    CROSS JOIN tot
    ORDER BY spine.method"""
  }
}
