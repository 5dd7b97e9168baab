package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Caches.PipelineCacheOps
import graft.sources.Tables

/** Profiling queries registered with the driver harness. Double-typed
  * columns are kept out of the string-melt profiles (Java vs DuckDB
  * shortest-double formatting can differ); they are profiled numerically
  * by `p4_numeric_stats` instead — same split the reference makes between
  * string features and stats-of-numerical-type
  * (reference FeatureExtractor.scala:779-839). */
object ProfileQueries {

  private def prof(table: String, cols: Seq[String]): QueryDef = QueryDef(
    (s, dir) =>
      ColumnProfiler.profile(
        ColumnProfiler.melt(Tables.table(s, dir, table), cols)),
    Some(ColumnProfiler.oracleSql(table, cols)))

  /** A17 shares (full-pass, documented divergence — see ColumnProfiler's
    * sampling contract) + the full A19 inferred-type group: per-value
    * type battery over a bounded deterministic sample, majority vote,
    * 8 one-hot indicators (reference DataPreprocessor.scala:172-210,
    * DataTypeParser.scala:14-52, FeatureExtractor.scala:665-731). */
  private def inferTypes(table: String, cols: Seq[String]): QueryDef = {
    val intRe = ColumnProfiler.IntRe
    val floatRe = ColumnProfiler.FloatRe
    val boolRe = ColumnProfiler.BoolRe
    val dateRe = ColumnProfiler.DateRe
    val n = ColumnProfiler.TypeSampleN
    QueryDef(
      (s, dir) => {
        val m = ColumnProfiler.melt(Tables.table(s, dir, table), cols)
        val bounded = ColumnProfiler.melt(
          Tables.table(s, dir, table).limit(4 * n), cols)
        ColumnProfiler.typeShares(m)
          .join(ColumnProfiler.sampledDateShare(bounded), Seq("col_name"), "left")
          .withColumn("share_date_sampled",
            coalesce(col("share_date_sampled"), lit(0.0)))
          .join(ColumnProfiler.inferredTypeOneHots(bounded), Seq("col_name"))
          .orderBy("col_name")
      },
      Some {
        val meltSql = cols
          .map(c => s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value FROM $table")
          .mkString("\n        UNION ALL ")
        val limMeltSql = cols
          .map(c => s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value FROM lim")
          .mkString("\n        UNION ALL ")
        val ne = "value IS NOT NULL AND length(trim(value)) > 0"
        def share(re: String) =
          s"round(CAST(sum(CASE WHEN $ne AND regexp_matches(lower(trim(value)), '$re') THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN $ne THEN 1 ELSE 0 END), 6)"
        val typeCase = s"""CASE
            WHEN length(trim(value)) = 0 THEN 'unknown'
            WHEN regexp_matches(value, '${ColumnProfiler.FloatFullRe}') THEN 'float'
            WHEN regexp_matches(value, '${ColumnProfiler.BoolCharRe}') THEN 'boolean'
            WHEN regexp_matches(value, '${ColumnProfiler.IntFullRe}') THEN
              CASE WHEN length(value) = 4 AND TRY_CAST(value AS INTEGER)
                     BETWEEN 1500 AND ${ColumnProfiler.YearMax} THEN 'date'
                   WHEN TRY_CAST(value AS INTEGER) IS NOT NULL THEN 'integer'
                   WHEN TRY_CAST(value AS BIGINT) IS NOT NULL THEN 'long'
                   ELSE 'string' END
            WHEN regexp_matches(value, '${ColumnProfiler.TimeOnlyRe}') THEN 'time'
            WHEN regexp_matches(value, '${ColumnProfiler.DateTimeRe}') THEN 'datetime'
            WHEN regexp_matches(value, '${ColumnProfiler.DateFullRe}') THEN 'date'
            ELSE 'string' END"""
        val rankCase = "CASE t " + ColumnProfiler.TypeRank.zipWithIndex
          .map { case (t, i) => s"WHEN '$t' THEN $i" }
          .mkString(" ") + s" ELSE ${ColumnProfiler.TypeRank.size} END"
        val oneHots = ColumnProfiler.TypeKeys.map(k =>
          s"CAST(CASE WHEN inferred_type = '$k' THEN 1 ELSE 0 END AS BIGINT) AS inferred_type_$k")
          .mkString(",\n          ")
        s"""WITH m AS (
        $meltSql
        ), sh AS (
          SELECT col_name,
            ${share(intRe)} AS share_int,
            ${share(floatRe)} AS share_float,
            ${share(boolRe)} AS share_bool,
            ${share(dateRe)} AS share_date
          FROM m GROUP BY col_name
        ), lim AS (
          SELECT * FROM $table LIMIT ${4 * n}
        ), lm AS (
        $limMeltSql
        ), samp AS (
          SELECT col_name, value FROM (
            SELECT col_name, value,
              row_number() OVER (PARTITION BY col_name
                ORDER BY md5(value), value) AS rn
            FROM lm WHERE value IS NOT NULL AND length(value) > 0)
          WHERE rn <= $n
        ), sds AS (
          SELECT col_name,
            round(CAST(sum(CASE WHEN regexp_matches(lower(trim(value)), '$dateRe')
              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS share_date_sampled
          FROM samp GROUP BY col_name
        ), typed AS (
          SELECT col_name, $typeCase AS t FROM samp
        ), tcnt AS (
          SELECT col_name, t, count(*) AS cnt FROM typed GROUP BY 1, 2
        ), moded AS (
          SELECT col_name, t FROM (
            SELECT col_name, t,
              row_number() OVER (PARTITION BY col_name
                ORDER BY cnt DESC, $rankCase) AS rn
            FROM tcnt) WHERE rn = 1
        ), withdef AS (
          SELECT allc.col_name, coalesce(t, 'string') AS inferred_type
          FROM (SELECT DISTINCT col_name FROM m) allc
          LEFT JOIN moded ON allc.col_name = moded.col_name
        )
        SELECT sh.col_name, share_int, share_float, share_bool, share_date,
          coalesce(share_date_sampled, 0.0) AS share_date_sampled,
          inferred_type,
          $oneHots
        FROM sh JOIN withdef ON sh.col_name = withdef.col_name
        LEFT JOIN sds ON sh.col_name = sds.col_name
        ORDER BY sh.col_name"""
      })
  }

  /** Numeric column stats (reference stats-of-numerical-type,
    * FeatureExtractor.scala:779-839): melt numeric columns keeping them
    * as doubles; exact decimal accumulation for sum/mean. */
  private def numericStats(table: String, cols: Seq[String]): QueryDef = QueryDef(
    (s, dir) => {
      val parts = cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
      Tables.table(s, dir, table)
        .selectExpr(s"stack(${cols.size}, $parts) as (col_name, x)")
        .groupBy(col("col_name"))
        .agg(
          count(col("x")).as("n"),
          round(sum(col("x").cast(DecimalType(30, 10))).cast("double"), 2)
            .as("sum_x"),
          round(sum(col("x").cast(DecimalType(30, 10))).cast("double") /
            count(col("x")), 6).as("mean_x"),
          min(col("x")).as("min_x"),
          max(col("x")).as("max_x"))
        .orderBy("col_name")
    },
    Some {
      val meltSql = cols
        .map(c => s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS x FROM $table")
        .mkString("\n      UNION ALL ")
      s"""WITH m AS (
      $meltSql
      )
      SELECT col_name, count(x) AS n,
        round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_x,
        round(CAST(sum(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / count(x), 6) AS mean_x,
        min(x) AS min_x, max(x) AS max_x
      FROM m GROUP BY col_name ORDER BY col_name"""
    })

  /** p8: minhash permutations per column sketch. */
  val InclApproxK = 128
  /** p8: rounded est-containment at/above this flags a candidate edge. */
  val InclApproxThreshold = 0.8

  /** Key-typed columns scanned by p7's inclusion-dependency pass. */
  val InclusionKeyCols: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "nation" -> "n_regionkey", "customer" -> "c_custkey",
    "customer" -> "c_nationkey", "supplier" -> "s_suppkey",
    "supplier" -> "s_nationkey", "part" -> "p_partkey",
    "orders" -> "o_orderkey", "orders" -> "o_custkey",
    "lineitem" -> "l_orderkey", "lineitem" -> "l_partkey",
    "lineitem" -> "l_suppkey")

  /** p9 candidate FDs (table, determinant, dependent): key→attr pairs
    * that must hold, plus non-key pairs that must fail — both polarities
    * so the operator is exercised, not vacuous. Bounded config list,
    * like [[InclusionKeyCols]]. */
  /** p10: numeric measure columns correlated pairwise. All carry at
    * most 2 decimal digits, so x*100 rounds to an exact integer. */
  val CorrCols: Seq[String] =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  /** p11: quantile fractions reported per numeric column, and the
    * coarse-histogram width that bounds pass-2 work (see the p11 doc
    * comment). */
  val QuantileQs: Seq[Double] = Seq(0.25, 0.50, 0.75, 0.95)
  val QuantileBuckets = 1024

  /** p12: candidate key columns (orders) — singles plus all pairs. */
  val KeyCols: Seq[String] = Seq("o_custkey", "o_orderdate", "o_orderkey",
    "o_orderpriority", "o_orderstatus", "o_totalprice")
  val KeyPairs: Seq[(Int, Int)] =
    for { i <- KeyCols.indices; j <- KeyCols.indices if i < j }
      yield (i, j)
  /** Index pairs (i < j) — col_x/col_y arrive pre-sorted by name
    * because [[CorrCols]] is sorted. */
  val CorrPairs: Seq[(Int, Int)] =
    for { i <- CorrCols.indices; j <- CorrCols.indices if i < j }
      yield (i, j)

  /** p16: approximate-FD admission threshold in micro units (1% — the
    * TANE-paper g3 ballpark for "holds modulo dirty rows"). */
  val ApproxFdTauMicro = 10000L

  /** p16's melt-shard count: the 30 (det, dep) pairs are melted in
    * this many sequential jobs of six pairs each, which bounds in-flight
    * shuffle volume at rows x 6 instead of rows x 30. Same-JVM A/B
    * against the one-job melt of all 30 pairs (4 cores, `graft.ScaleUp`
    * data, alternating pairs after one untimed run of each arm, full
    * materialization, median [IQR] in s, rows equal in every pair):
    *
    * | scale | one job | 5 shards | one job faster |
    * |---|---|---|---|
    * | sf0.1 | 8.00 [6.98–8.61] | 8.10 [7.67–8.67] | 9/16 |
    * | sf1 | 55.5 [54.7–56.4] | 45.6 [43.4–48.3] | 0/6 |
    * | sf10 | 641, 560 | 594, 548 | 0/2 |
    *
    * (sf10: the two runs of each arm; a pair takes 20 minutes on 4
    * cores.) The shards tie at sf0.1 and win above it, so they are the
    * only plan. */
  val P16MeltShards = 5

  val FdCandidates: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("nation", "n_name", "n_regionkey"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("nation", "n_regionkey", "n_name"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("part", "p_brand", "p_type"),
    ("part", "p_partkey", "p_brand"))

  /** p13: date pivot splitting orders into old/new vintages (mid-range
    * of the synthetic corpus' 1992-1998 span). */
  val DriftPivot = "1995-06-01"

  /** p13: |relative delta| in micro-units at or above which a metric
    * is flagged as drifted (50000 = 5%). */
  val DriftFlagMicro = 50000L

  /** p12's engine body: the 21 exact countDistincts (6 singles, 15
    * pairs) as CONCURRENT single-distinct jobs. A single-distinct agg
    * plans without Expand (two-phase partial dedup on a 1-2 column
    * pruned scan), each combo's job is independent, and the scheduler
    * overlaps them (guide §2.6). The report is 21 rows assembled
    * driver-side. This one plan beat the HLL screen → verify → imply
    * plan it replaced at every scale measured (sf0.1, sf1, sf10; see
    * PERF.md "Size gates re-measured"), so there is no second path. */
  def keyDiscovery(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cols = KeyCols
    val base = Tables.table(s, dir, "orders")
    val n = base.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def cd(cs: Seq[String]): scala.concurrent.Future[Long] =
      scala.concurrent.Future(
        base.agg(countDistinct(col(cs.head),
          cs.tail.map(col): _*).as("d")).head().getLong(0))
    try {
      val singleF = cols.indices.map(i => cd(Seq(cols(i))))
      val pairF = KeyPairs.map { case (i, j) =>
        cd(Seq(cols(i), cols(j))) }
      import scala.concurrent.duration.Duration
      val singles = singleF.map(f =>
        scala.concurrent.Await.result(f, Duration.Inf))
      val pairsD = pairF.map(f =>
        scala.concurrent.Await.result(f, Duration.Inf))
      val uniqS = cols.indices.map(i => singles(i) == n)
      import s.implicits._
      val singleRows = cols.indices.map { i =>
        (cols(i), if (uniqS(i)) Some(n) else None,
          if (uniqS(i)) 1L else 0L, if (uniqS(i)) 1L else 0L)
      }
      val pairRows = KeyPairs.zip(pairsD).map { case ((i, j), p) =>
        val u = p == n
        (s"${cols(i)}+${cols(j)}", if (u) Some(n) else None,
          if (u) 1L else 0L,
          if (u && !uniqS(i) && !uniqS(j)) 1L else 0L)
      }
      (singleRows ++ pairRows)
        .toDF("combo", "n_distinct", "is_unique", "is_minimal_unique")
        .orderBy(col("combo"))
    } finally pool.shutdown()
  }

  /** p11's engine (r16): the SAME two-bounded-pass exact-quantile
    * algorithm (histogram locate + bucket-sized offset pick — see the
    * p11 QueryDef comment for why both passes are irreducible), with
    * the per-column stats → histogram → locate chain run as CONCURRENT
    * driver jobs (guide §2.6 — keyDiscovery's posture) and the locate
    * arithmetic done on the collected ≤[[QuantileBuckets]]-row
    * histogram instead of a window + join stage pair. The fused
    * single-DAG form serialized three full barriers (stats agg →
    * histogram agg + cumulative window + locate join → pick window)
    * across ALL columns; here column A's histogram job overlaps column
    * B's stats job, and the final pick pass stays ONE distributed job
    * whose per-column union arms overlap inside it.
    *
    * Value-identical by construction: ranks ceil(q·n) on IEEE doubles
    * (math.ceil == Spark's Ceil on DoubleType), bucket ids from the
    * SAME expression shape with mn / (mx-mn)/nb folded to literals
    * (Catalyst constant-folded those operands anyway), the cumulative
    * sum over (b ASC, nulls first) exactly as the window ordered it,
    * and a rank landing in the null-v bucket is dropped exactly as the
    * fused form's null-key join dropped it. Driver state is bounded at
    * any corpus size: one (n, mn, mx) row + ≤1024 histogram rows per
    * column, cols × quantiles located rows. */
  def quantileProfile(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val nb = QuantileBuckets
    def scan(c: String) =
      Tables.table(s, dir, "lineitem").select(col(c).as("v"))
    // bucket id — the fused form's exact expression with the stats
    // operands as literals: least(floor((v - mn) / ((mx - mn) / nb)), nb-1)
    def bucketExpr(mn: Double, w: Double) =
      least(floor((col("v") - lit(mn)) / lit(w)).cast("long"),
        lit(nb - 1L))
    case class Located(q: Double, b: Long, off: Long)
    case class ColPlan(c: String, const: Seq[(String, Double, Double)],
      mn: Double, w: Double, located: Seq[Located])
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(CorrCols.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futs = CorrCols.map { c => scala.concurrent.Future {
      s.sparkContext.setJobDescription(s"p11: stats+hist $c")
      val st = scan(c).agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx")).head()
      val n = st.getLong(0)
      if (n == 0L || st.isNullAt(1)) ColPlan(c, Nil, 0.0, 0.0, Nil)
      else {
        val mn = st.getDouble(1); val mx = st.getDouble(2)
        if (mn == mx) ColPlan(c, QuantileQs.map(q => (c, q, mn)),
          mn, 0.0, Nil)
        else {
          val w = (mx - mn) / nb
          val hist = scan(c).withColumn("b", bucketExpr(mn, w))
            .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
            .collect()
            .map(r => (if (r.isNullAt(0)) null
              else java.lang.Long.valueOf(r.getLong(0)), r.getLong(1)))
          // cumulative counts over (b ASC, nulls FIRST) — the window's
          // order; b >= 0 by construction (mn is the min), so the null
          // group sorts first via the -1 sentinel
          val sorted = hist.sortBy { case (b, _) =>
            if (b == null) -1L else b.longValue }
          val cum = sorted.scanLeft(0L) { case (acc, (_, cnt)) =>
            acc + cnt }
          val located = QuantileQs.flatMap { q =>
            val rank = math.ceil(q * n.toDouble).toLong
            sorted.indices.find(i =>
              rank > cum(i) && rank <= cum(i + 1)).flatMap { i =>
              // a rank landing in the null-v group matched no bucket
              // in the fused form's (c, b) join — same drop here
              Option(sorted(i)._1).map(b =>
                Located(q, b.longValue, rank - cum(i)))
            }
          }
          ColPlan(c, Nil, mn, w, located)
        }
      }
    }}
    val plans =
      try futs.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
    // final pick pass: one distributed job, per-column union arms —
    // each arm re-buckets its pruned single-column scan, keeps only
    // target-bucket rows via the broadcast locate list (duplicated per
    // quantile exactly as the fused form's (c, b) join did), and picks
    // the offset-th value per (column, q) bucket-sized partition
    val pickedArms = plans.filter(_.located.nonEmpty).map { p =>
      val loc = p.located.map(l => (l.b, l.q, l.off)).toDF("b", "q", "off")
      scan(p.c).withColumn("b", bucketExpr(p.mn, p.w))
        .join(broadcast(loc), "b")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q")).orderBy(col("v"))))
        .filter(col("rn") === col("off"))
        .select(lit(p.c).as("col_name"), col("q"),
          col("v").cast("double").as("q_value"))
    }
    val constDf = plans.flatMap(_.const)
      .toDF("col_name", "q", "q_value")
    (pickedArms :+ constDf).reduce(_ unionByName _)
      .orderBy(col("col_name"), col("q"))
  }

  /** p16's engine body. The 30 ordered pairs are melted in
    * [[P16MeltShards]] SEQUENTIAL jobs: each job scans orders once,
    * melts only its slice of the pairs and reduces to its <= |slice|
    * final rows, which are collected (30 rows in all — the d7
    * bounded-collect class) and reassembled. Sharding cannot change a
    * verdict: the pair groups are disjoint and every aggregate is keyed
    * by (det_col, dep_col). */
  def approxFds(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cols = KeyCols
    val base = Tables.table(s, dir, "orders")
    val pairs = for { i <- cols.indices; j <- cols.indices if i != j }
      yield (i, j)
    def shardPlan(group: Seq[(Int, Int)]): org.apache.spark.sql.DataFrame = {
      // melt as a UNION of per-pair pruned scans, not
      // explode(array(struct...)): a Generate subtree never enters
      // whole-stage codegen (p11's lesson, measured there at 422 s of
      // interpreted row expansion at sf100), while each union arm here
      // is a codegen'd two-column columnar scan with its own partial
      // aggregation — the shuffle volume is identical, the expansion
      // cost isn't (sf0.1 full-materialization A/B: 9.6 -> 5.2 s
      // same-JVM warm; sf10 legs in PERF.md)
      val melt = group.map { case (i, j) =>
          base.select(lit(s"orders.${cols(i)}").as("det_col"),
            lit(s"orders.${cols(j)}").as("dep_col"),
            col(cols(i)).cast("string").as("x"),
            col(cols(j)).cast("string").as("y")) }
        .reduce(_ unionByName _)
      val xy = melt
        .groupBy(col("det_col"), col("dep_col"), col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
      val perX = xy.groupBy(col("det_col"), col("dep_col"), col("x"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("cnt"))
      perX.groupBy(col("det_col"), col("dep_col"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("mx")).as("n_keep"),
          sum(col("cnt")).as("n_rows"))
        .withColumn("g3_error_micro",
          expr("(n_rows - n_keep) * 1000000L div n_rows"))
        .withColumn("holds_exact",
          (col("n_keep") === col("n_rows")).cast("long"))
        .withColumn("holds_approx",
          (col("g3_error_micro") <= ApproxFdTauMicro).cast("long"))
    }
    // collect() per shard is what MAKES them separate jobs — a lazy
    // union would hand Catalyst one plan with every subtree, the
    // one-job melt of all 30 pairs
    val groups = pairs.grouped(
      (pairs.size + P16MeltShards - 1) / P16MeltShards).toSeq
    val rows = groups.flatMap(g => shardPlan(g).collect())
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, shardPlan(pairs).schema)
      .orderBy(col("det_col"), col("dep_col"))
  }

  val defs: Map[String, QueryDef] = Map(
    "p1_profile_customer" -> prof("customer",
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
    "p2_profile_documents" -> prof("documents",
      Seq("doc_id", "text", "lang", "source", "n_chars")),
    "p3_profile_orders" -> prof("orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
        "o_orderpriority")),
    "p4_numeric_stats" -> numericStats("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "p5_inferred_types" -> inferTypes("events",
      Seq("event_id", "ts", "event_type", "props")),
    "p6_profile_part" -> prof("part",
      Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")),

    // ---- p7: inclusion-dependency discovery (candidate foreign keys)
    //      — the SPIDER/SINDY data-integration pass the semantic
    //      modeler's cross-table alignment presupposes: for every
    //      ordered key-column pair (A, B), containment =
    //      |distinct(A) ∩ distinct(B)| / |distinct(A)|; containment 1
    //      means A ⊆ B, a candidate FK edge. Shape: one distinct
    //      (column, value) frame, self-joined on VALUE (key-equality;
    //      per-value fan-out is bounded by #key-columns², never by row
    //      count), then two map-side-combined counts — the set-overlap
    //      matrix costs O(distinct values × matches), not O(pairs ×
    //      corpus).
    "p7_inclusion_deps" -> QueryDef(
      (s, dir) => {
        val dv = InclusionKeyCols
          .map { case (t, c) =>
            Tables.table(s, dir, t)
              .select(lit(s"$t.$c").as("col_name"),
                col(c).cast("long").as("v"))
          }
          .reduce(_ unionByName _)
          .filter(col("v").isNotNull)
        // ONE value-keyed shuffle with map-side set-dedup (collect_set
        // partial-aggregates, so duplicate (col, v) pairs die in the
        // map task) replaces the previous distinct + value SELF-JOIN,
        // which shuffled the distinct set twice more to re-pair columns
        // by value. For each value the grouped row holds the set of
        // columns containing it (bounded by |InclusionKeyCols|, so the
        // in-row pair expansion is O(k²) on an 11-column set, never
        // data-sized); n_common = #values where both columns appear,
        // n_a = #values where col_a appears — identical by definition
        // to the old distinct-pair counts.
        val grouped = dv.groupBy(col("v"))
          .agg(collect_set(col("col_name")).as("cols")).pipelineCache()
        val sizes = grouped
          .select(explode(col("cols")).as("col_name"))
          .groupBy(col("col_name")).agg(count(lit(1)).as("n"))
        val inter = grouped
          .select(explode(col("cols")).as("col_a"), col("cols"))
          .select(col("col_a"), explode(col("cols")).as("col_b"))
          .filter(col("col_a") =!= col("col_b"))
          .groupBy(col("col_a"), col("col_b"))
          .agg(count(lit(1)).as("n_common"))
        inter
          // sizes is one row per profiled column (|InclusionKeyCols|),
          // but it hides behind the cache so the planner can't see
          // that — hint the broadcast explicitly (guide §3.1)
          .join(broadcast(sizes.withColumnRenamed("col_name", "col_a")
            .withColumnRenamed("n", "n_a")), "col_a")
          .withColumn("containment",
            floor(col("n_common").cast("double") / col("n_a") * 1e6 + 0.5)
              / 1e6)
          .withColumn("is_inclusion",
            (col("n_common") === col("n_a")).cast("long"))
          .select(col("col_a"), col("col_b"), col("n_common"),
            col("containment"), col("is_inclusion"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some {
        val selects = InclusionKeyCols.map { case (t, c) =>
          s"SELECT DISTINCT '$t.$c' AS col_name, CAST($c AS BIGINT) AS v FROM $t WHERE $c IS NOT NULL"
        }.mkString("\n        UNION ALL ")
        s"""WITH dv AS (
        $selects
      ), sizes AS (
        SELECT col_name, count(*) AS n FROM dv GROUP BY 1
      ), inter AS (
        SELECT a.col_name AS col_a, b.col_name AS col_b, count(*) AS n_common
        FROM dv a JOIN dv b ON a.v = b.v AND a.col_name <> b.col_name
        GROUP BY 1, 2
      )
      SELECT col_a, col_b, n_common,
        floor(CAST(n_common AS DOUBLE) / s.n * 1e6 + 0.5) / 1e6
          AS containment,
        CAST(n_common = s.n AS BIGINT) AS is_inclusion
      FROM inter JOIN sizes s ON s.col_name = col_a
      ORDER BY col_a, col_b"""
      }),

    // ---- p8: APPROXIMATE inclusion-dependency discovery — p7's scale
    //      path. p7's exact pass needs a global distinct over every
    //      (column, value) and a value self-join; at 100 TB that distinct
    //      is the dominant shuffle. p8 replaces it with a per-column
    //      k-permutation minhash sketch (d2's exact hash chain, reused):
    //      ONE pass over the key columns, [[InclApproxK]] codegen'd
    //      min() aggregates map-side-combined into #columns rows, then an
    //      O(#columns² · K) sketch comparison that never touches the data
    //      again. Column cardinalities come from the same sketch
    //      (E[min] = p/(n+1), inverted with deterministic integer
    //      arithmetic), containment from the Jaccard identity
    //      |A∩B| = J/(1+J)·(|A|+|B|), clamped to [0,1].
    //      Estimator contract (documented limitation, spec-pinned): for
    //      a true inclusion A ⊆ B, match_k ~ K/(|B|/|A|), so estimates
    //      are tight when |A|,|B| ≳ K/2 AND |B|/|A| ≲ K/20 (raise K for
    //      wider ratios) — the fact↔fact edges that are expensive
    //      exactly. Tiny dimension columns (|X| ≪ K) stay p7's exact
    //      territory, which is cheap for them by definition. Everything
    //      (hashes, permutation constants, integer divisions, double
    //      formula shape) is mirrored bitwise in the DuckDB twin, so the
    //      oracle is hash-exact, not statistical.
    "p8_inclusion_deps_approx" -> QueryDef(
      (s, dir) => {
        val p = graft.text.Text.MinhashP
        val K = InclApproxK
        val vals = InclusionKeyCols
          .map { case (t, c) =>
            Tables.table(s, dir, t)
              .select(lit(s"$t.$c").as("col_name"),
                col(c).cast("long").as("v"))
          }
          .reduce(_ unionByName _)
          .filter(col("v").isNotNull)
        // no distinct: duplicate values hash identically and min() is
        // idempotent — the sketch equals the sketch of the distinct set
        val hashed = vals.withColumn("h",
          conv(substring(md5(col("v").cast("string")), 1, 15), 16, 10)
            .cast("long") % p)
        val minExprs = (1 to K).map { i =>
          val a = (i.toLong * 40503L + 12345L) % (p - 1) + 1L
          val b = (i.toLong * 69069L + 7L) % p
          min((col("h") * a + b) % p).as(s"m$i")
        }
        val sigs = hashed.groupBy(col("col_name"))
          .agg(minExprs.head, minExprs.tail: _*)
        val longSigs = sigs
          .select(col("col_name"), posexplode(
            array((1 to K).map(i => col(s"m$i")): _*)).as(Seq("i0", "m")))
          .select(col("col_name"), (col("i0") + 1).as("i"), col("m"))
          .pipelineCache()
        val card = longSigs.groupBy(col("col_name"))
          .agg(sum(col("m")).as("sm"))
          .select(col("col_name"),
            greatest(expr(s"(cast($K as bigint) * cast($p as bigint))" +
              s" div (sm + $K) - 1"), lit(1L)).as("est_n"))
        val matches = longSigs.as("a")
          .join(longSigs.as("b"),
            col("a.i") === col("b.i") &&
              col("a.col_name") =!= col("b.col_name"))
          .select(col("a.col_name").as("col_a"),
            col("b.col_name").as("col_b"),
            col("a.m").as("ma"), col("b.m").as("mb"))
          .groupBy(col("col_a"), col("col_b"))
          .agg(count(when(col("ma") === col("mb"), 1)).as("match_k"))
        val estJ = col("match_k").cast("double") / K
        matches
          .join(card.select(col("col_name").as("col_a"),
            col("est_n").as("est_n_a")), "col_a")
          .join(card.select(col("col_name").as("col_b"),
            col("est_n").as("est_n_b")), "col_b")
          .withColumn("est_containment",
            floor(least(estJ / (lit(1) + estJ)
                * (col("est_n_a") + col("est_n_b")) / col("est_n_a"),
              lit(1.0)) * 1e6 + lit(0.5)) / 1e6)
          .withColumn("is_candidate",
            (col("est_containment") >= InclApproxThreshold).cast("long"))
          .select(col("col_a"), col("col_b"), col("match_k"),
            col("est_n_a"), col("est_containment"), col("is_candidate"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some {
        val p = graft.text.Text.MinhashP
        val K = InclApproxK
        val selects = InclusionKeyCols.map { case (t, c) =>
          s"SELECT '$t.$c' AS col_name, CAST($c AS BIGINT) AS v FROM $t WHERE $c IS NOT NULL"
        }.mkString("\n        UNION ALL ")
        s"""WITH vals AS (
        $selects
      ), hashed AS (
        SELECT col_name,
          CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)) AS BIGINT)
            % $p AS h
        FROM vals
      ), perms AS (
        SELECT col_name, i,
          min((((i * 40503 + 12345) % ${p - 1} + 1) * h
               + (i * 69069 + 7) % $p) % $p) AS m
        FROM hashed, range(1, ${K + 1}) t(i)
        GROUP BY 1, 2
      ), card AS (
        -- sum(BIGINT) is HUGEINT in DuckDB; pin the result back to
        -- BIGINT so the schema matches Spark's LongType
        SELECT col_name,
          CAST(greatest((CAST($K AS BIGINT) * CAST($p AS BIGINT))
            // (sum(m) + $K) - 1, 1) AS BIGINT) AS est_n
        FROM perms GROUP BY 1
      ), matches AS (
        SELECT a.col_name AS col_a, b.col_name AS col_b,
          count(*) FILTER (WHERE a.m = b.m) AS match_k
        FROM perms a JOIN perms b
          ON a.i = b.i AND a.col_name <> b.col_name
        GROUP BY 1, 2
      ), est AS (
        SELECT col_a, col_b, match_k, ca.est_n AS est_n_a,
          floor(least(CAST(match_k AS DOUBLE) / $K
              / (1 + CAST(match_k AS DOUBLE) / $K)
              * (ca.est_n + cb.est_n) / ca.est_n, 1.0) * 1e6 + 0.5)
            / 1e6 AS est_containment
        FROM matches
        JOIN card ca ON ca.col_name = col_a
        JOIN card cb ON cb.col_name = col_b
      )
      SELECT col_a, col_b, match_k, est_n_a, est_containment,
        CAST(est_containment >= $InclApproxThreshold AS BIGINT)
          AS is_candidate
      FROM est ORDER BY col_a, col_b"""
      }),

    // ---- p9: functional-dependency discovery (TANE/Metanome family —
    //      the third classic profiling pass next to p7/p8's inclusion
    //      deps): A→B holds iff no value of A co-occurs with two
    //      distinct values of B. Per candidate pair, one
    //      `groupBy(A).agg(countDistinct(B))` — Spark plans
    //      count-distinct-under-group as a two-level expand+partial
    //      aggregate (map-side combined on both levels), so no reducer
    //      ever sees one A-value's whole row set: skew-safe at any row
    //      count. The candidate list is a bounded config
    //      ([[FdCandidates]]) exactly like p7's key columns; per pair
    //      the report is violation count, max |B-per-A| fan-out, and
    //      the holds flag, so a failing FD reports HOW it fails
    //      (1 stray value vs systematic many-to-many).
    "p9_functional_deps" -> QueryDef(
      (s, dir) => {
        FdCandidates.map { case (t, a, b) =>
          Tables.table(s, dir, t)
            .groupBy(col(a).as("lhs"))
            .agg(countDistinct(col(b)).as("nrhs"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("nrhs") > 1, 1L).otherwise(0L)).as("n_violating"),
              max(col("nrhs")).as("max_rhs"))
            .select(lit(s"$t.$a").as("det_col"), lit(s"$t.$b").as("dep_col"),
              col("n_lhs"), col("n_violating"), col("max_rhs"),
              (col("n_violating") === 0).cast("long").as("fd_holds"))
        }.reduce(_ unionByName _)
          .orderBy(col("det_col"), col("dep_col"))
      },
      Some {
        val selects = FdCandidates.map { case (t, a, b) =>
          s"""SELECT '$t.$a' AS det_col, '$t.$b' AS dep_col,
            count(*) AS n_lhs,
            CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_violating,
            max(nrhs) AS max_rhs,
            CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) = 0 AS BIGINT)
              AS fd_holds
          FROM (SELECT $a AS lhs, count(DISTINCT $b) AS nrhs
                FROM $t GROUP BY 1)"""
        }.mkString("\n        UNION ALL ")
        s"""SELECT * FROM (
        $selects
      ) ORDER BY det_col, dep_col"""
      }),

    // ---- p10: Pearson correlation matrix over lineitem's numeric
    //      measure columns — the cross-column numeric profile (pairs
    //      with p4's per-column stats; a modeler uses it to drop
    //      near-duplicate features before training). ONE corpus scan:
    //      every moment (n, Σx, Σx², Σxy for all pairs) reduces in a
    //      single map-side-combined aggregate to ONE row, and the
    //      #pairs² result assembles row-locally from it (inline over a
    //      literal struct array — no second scan, no collect, no join).
    //      Exactness without per-row decimal cost: the doubles carry
    //      <= 2 decimal digits, so x*100 rounds to an exact integer
    //      LONG — and Pearson is scale-invariant, so the formula runs
    //      directly on the scaled moments. Per-row work is then pure
    //      codegen'd long multiplies (an all-DECIMAL formulation was
    //      measured 8x slower — BigDecimal multiply per row); only the
    //      accumulators are decimal, keeping sums exact in any
    //      partition order and in DuckDB (which sums BIGINT into
    //      int128 — same rationals, same double casts). Overflow
    //      headroom: scaled products <= 1e14 fit long; Σ over 6e9 rows
    //      needs 24 digits — inside DECIMAL(38,0) for any single-table
    //      100-TB scan; Σx <= 6e16 fits the plain long sum.
    "p10_column_correlation" -> QueryDef(
      (s, dir) => {
        val cols = CorrCols
        val sc = cols.map(c => round(col(c) * 100).cast("long"))
        val pairs = CorrPairs
        val aggs =
          Seq(count(lit(1)).as("n")) ++
          cols.indices.map(i => sum(sc(i)).as(s"s_$i")) ++
          cols.indices.map(i =>
            sum((sc(i) * sc(i)).cast(DecimalType(38, 0))).as(s"q_$i")) ++
          pairs.map { case (i, j) =>
            sum((sc(i) * sc(j)).cast(DecimalType(38, 0))).as(s"p_${i}_$j") }
        val m = Tables.table(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
        def d(c: String) = col(c).cast("double")
        val rows = pairs.map { case (i, j) =>
          val corr =
            (d("n") * d(s"p_${i}_$j") - d(s"s_$i") * d(s"s_$j")) /
              (sqrt(d("n") * d(s"q_$i") - d(s"s_$i") * d(s"s_$i")) *
                sqrt(d("n") * d(s"q_$j") - d(s"s_$j") * d(s"s_$j")))
          struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
            round(corr, 6).as("corr"))
        }
        m.select(inline(array(rows: _*)))
          .orderBy(col("col_x"), col("col_y"))
      },
      Some {
        val cols = CorrCols
        // same exact-integer scaling as the engine; DuckDB's
        // sum(BIGINT) accumulates in int128, so every moment is the
        // same exact rational the decimal accumulators hold
        def dc(c: String) = s"CAST(round($c * 100) AS BIGINT)"
        val moments =
          Seq("count(*) AS n") ++
          cols.indices.map(i => s"sum(${dc(cols(i))}) AS s_$i") ++
          cols.indices.map(i =>
            s"sum(${dc(cols(i))} * ${dc(cols(i))}) AS q_$i") ++
          CorrPairs.map { case (i, j) =>
            s"sum(${dc(cols(i))} * ${dc(cols(j))}) AS p_${i}_$j" }
        def d(c: String) = s"CAST($c AS DOUBLE)"
        val selects = CorrPairs.map { case (i, j) =>
          s"""SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y,
            round((${d("n")} * ${d(s"p_${i}_$j")} -
                   ${d(s"s_$i")} * ${d(s"s_$j")}) /
              (sqrt(${d("n")} * ${d(s"q_$i")} -
                    ${d(s"s_$i")} * ${d(s"s_$i")}) *
               sqrt(${d("n")} * ${d(s"q_$j")} -
                    ${d(s"s_$j")} * ${d(s"s_$j")})), 6) AS corr
          FROM m""" }.mkString("\n          UNION ALL ")
        s"""WITH m AS (SELECT ${moments.mkString(", ")} FROM lineitem)
        SELECT * FROM (
          $selects
        ) ORDER BY col_x, col_y"""
      }),

    // ---- p11: EXACT quantiles (discrete: the value at global rank
    //      ceil(q·n)) per numeric column — p4's stats battery lacks
    //      order statistics, and the naive exact plan (one window sort
    //      per column) funnels each column through a single task. This
    //      is the distributed-selection shape instead, two bounded
    //      passes over a narrow (col, value) melt:
    //        pass 1: per-column count/min/max (one map-side agg), then
    //          a [[QuantileBuckets]]-bin histogram (groupBy (col,
    //          bucket) — O(cols × buckets) rows) with a cumulative
    //          window over the TINY histogram locating, for every
    //          quantile rank, its target bucket and in-bucket offset;
    //        pass 2: only rows landing in a target bucket survive
    //          (~n/buckets per column per quantile) and a row_number
    //          window partitioned by (col, q) — whose partitions are
    //          bucket-sized BY CONSTRUCTION, never column-sized —
    //          picks the offset-th value.
    //      Bucketing via floor((v-min)/w) is monotone in v, so the
    //      global rank decomposes exactly into (bucket, offset); ties
    //      share a bucket, and equal values make the in-bucket
    //      row_number tie-break immaterial. Constant columns (min ==
    //      max) answer from pass-1 stats directly — the one case where
    //      a "bucket" would be the whole column. The oracle computes
    //      the same ranks by brute-force row_number over each column.
    //      Engine body in [[quantileProfile]] (r16): same algorithm,
    //      per-column chains as concurrent jobs, histogram locate on
    //      the collected ≤nb-row histogram. The melt lesson stands:
    //      each per-column arm is a codegen'd single-column pruned
    //      scan, never an inline(array(struct...)) Generate (measured
    //      422 s of interpreted 4x row expansion at sf100).
    "p11_quantile_profile" -> QueryDef(
      (s, dir) => quantileProfile(s, dir),
      Some {
        val melt = CorrCols
          .map(c => s"SELECT '$c' AS c, $c AS v FROM lineitem")
          .mkString("\n        UNION ALL ")
        val qs = QuantileQs.map(q => s"($q)").mkString(", ")
        s"""WITH m AS (
        $melt
      ), r AS (
        SELECT c, v, row_number() OVER (PARTITION BY c ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY c) AS n
        FROM m
      )
      SELECT c AS col_name, CAST(q AS DOUBLE) AS q,
        CAST(v AS DOUBLE) AS q_value
      FROM r CROSS JOIN (VALUES $qs) qs(q)
      -- rank arithmetic on DOUBLE, matching the engine's IEEE
      -- ceil(q*n) bit-for-bit (0.95 is not exact in binary; a decimal
      -- ceil could differ by one at divisible-n boundaries)
      WHERE rn = CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT)
      ORDER BY col_name, q"""
      }),

    // ---- p12: key discovery (unique column combinations, the fourth
    //      classic profiling task beside p7/p8 INDs, p9 FDs and the
    //      stats battery — HyUCC/Metanome family): which single
    //      columns and column pairs uniquely identify an orders row,
    //      and which of those are MINIMAL (no unique proper subset).
    //      Shape: 21 concurrent single-distinct jobs (see
    //      [[keyDiscovery]]). Output contract: n_distinct is the EXACT
    //      count for keys and NULL otherwise. Null caveat: multi-column
    //      countDistinct drops rows with ANY null member; orders has no
    //      nulls, a null-bearing table would coalesce to sentinels
    //      first.
    "p12_key_discovery" -> QueryDef(
      (s, dir) => keyDiscovery(s, dir),
      Some {
        val cols = KeyCols
        val moments = Seq("count(*) AS n") ++
          cols.indices.map(i =>
            s"count(DISTINCT ${cols(i)}) AS s_$i") ++
          KeyPairs.map { case (i, j) =>
            s"count(DISTINCT (${cols(i)}, ${cols(j)})) AS p_${i}_$j" }
        val singles = cols.indices.map { i =>
          s"""SELECT '${cols(i)}' AS combo,
            CASE WHEN s_$i = n THEN s_$i END AS n_distinct,
            CAST(s_$i = n AS BIGINT) AS is_unique,
            CAST(s_$i = n AS BIGINT) AS is_minimal_unique FROM m"""
        }
        val pairs = KeyPairs.map { case (i, j) =>
          s"""SELECT '${cols(i)}+${cols(j)}' AS combo,
            CASE WHEN p_${i}_$j = n THEN p_${i}_$j END AS n_distinct,
            CAST(p_${i}_$j = n AS BIGINT) AS is_unique,
            CAST(p_${i}_$j = n AND s_$i <> n AND s_$j <> n AS BIGINT)
              AS is_minimal_unique FROM m"""
        }
        s"""WITH m AS (SELECT ${moments.mkString(", ")} FROM orders)
        SELECT * FROM (
          ${(singles ++ pairs).mkString("\n          UNION ALL ")}
        ) ORDER BY combo"""
      }),

    // ---- p13: PROFILE DRIFT between two vintages of a table — the
    //      data-freshness QA every recurring 100-TB ingest runs before
    //      promoting a snapshot ("did this month's load change the
    //      distribution, or just add rows?"). Batch complement of
    //      st9's streaming drift monitor and of d16's row-level diff:
    //      d16 says WHICH docs changed, p13 says whether the SHAPE
    //      changed. Orders split at a fixed date pivot play the
    //      old/new vintages; per metric one row with both values, the
    //      integer-exact relative delta in micro-units (NULL when the
    //      old side is empty/zero — undefined, not "no drift") and a
    //      [[DriftFlagMicro]] flag.
    //
    //      Scale shape: ONE pass over two pruned columns + the
    //      distinct-custkey count (conditional aggregates, map-side
    //      combined; the Expand for the distinct is over (custkey,
    //      side) pairs only), melted to 4 rows by a row-local stack —
    //      no second scan, no driver math, no shuffle beyond the agg.
    //      Money is decimal-cast before summing (double sums are
    //      order-dependent across engines; q1's proven idiom).
    "p13_profile_drift" -> QueryDef(
      (s, dir) => {
        val pivotTs = java.sql.Timestamp.valueOf(s"$DriftPivot 00:00:00")
        val o = Tables.table(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"),
            (col("o_orderdate") < lit(pivotTs)).as("old_side"))
        val cents = col("o_totalprice").cast(DecimalType(25, 2))
        def side(old: Boolean, c: org.apache.spark.sql.Column) =
          when(col("old_side") === old, c)
        val agg = o.agg(
          count(side(true, lit(1))).as("old_n"),
          count(side(false, lit(1))).as("new_n"),
          countDistinct(side(true, col("o_custkey"))).as("old_cust"),
          countDistinct(side(false, col("o_custkey"))).as("new_cust"),
          sum(side(true, cents)).as("old_sum"),
          sum(side(false, cents)).as("new_sum"),
          count(side(true,
            when(col("o_orderpriority") === "1-URGENT", lit(1))))
            .as("old_urg"),
          count(side(false,
            when(col("o_orderpriority") === "1-URGENT", lit(1))))
            .as("new_urg"))
        val melted = agg.selectExpr(
          """stack(4,
            'n_orders', old_n, new_n,
            'n_customers', old_cust, new_cust,
            'mean_price_cents',
              CAST(old_sum * 100 AS BIGINT) div nullif(old_n, 0),
              CAST(new_sum * 100 AS BIGINT) div nullif(new_n, 0),
            'urgent_share_micro',
              old_urg * 1000000 div nullif(old_n, 0),
              new_urg * 1000000 div nullif(new_n, 0)
          ) AS (metric, old_value, new_value)""")
        melted.selectExpr("metric", "old_value", "new_value",
          """CAST((new_value - old_value) * 1000000
            div nullif(abs(old_value), 0) AS BIGINT) AS rel_delta_micro""",
          s"""CASE WHEN old_value IS NULL OR new_value IS NULL
              OR nullif(old_value, 0) IS NULL THEN CAST(NULL AS BIGINT)
            ELSE CAST(abs((new_value - old_value) * 1000000
              div abs(old_value)) >= $DriftFlagMicro AS BIGINT)
            END AS drifted""")
          .orderBy(col("metric"))
      },
      Some(s"""WITH agg AS (
        SELECT
          count(*) FILTER (WHERE o_orderdate < TIMESTAMP '$DriftPivot 00:00:00')
            AS old_n,
          count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '$DriftPivot 00:00:00')
            AS new_n,
          count(DISTINCT o_custkey)
            FILTER (WHERE o_orderdate < TIMESTAMP '$DriftPivot 00:00:00')
            AS old_cust,
          count(DISTINCT o_custkey)
            FILTER (WHERE o_orderdate >= TIMESTAMP '$DriftPivot 00:00:00')
            AS new_cust,
          sum(CAST(o_totalprice AS DECIMAL(25,2)))
            FILTER (WHERE o_orderdate < TIMESTAMP '$DriftPivot 00:00:00')
            AS old_sum,
          sum(CAST(o_totalprice AS DECIMAL(25,2)))
            FILTER (WHERE o_orderdate >= TIMESTAMP '$DriftPivot 00:00:00')
            AS new_sum,
          count(*) FILTER (WHERE o_orderdate < TIMESTAMP '$DriftPivot 00:00:00'
            AND o_orderpriority = '1-URGENT') AS old_urg,
          count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '$DriftPivot 00:00:00'
            AND o_orderpriority = '1-URGENT') AS new_urg
        FROM orders
      ), melted AS (
        SELECT 'n_orders' AS metric, old_n AS old_value,
          new_n AS new_value FROM agg
        UNION ALL SELECT 'n_customers', old_cust, new_cust FROM agg
        UNION ALL SELECT 'mean_price_cents',
          CAST(old_sum * 100 AS BIGINT) // nullif(old_n, 0),
          CAST(new_sum * 100 AS BIGINT) // nullif(new_n, 0) FROM agg
        UNION ALL SELECT 'urgent_share_micro',
          old_urg * 1000000 // nullif(old_n, 0),
          new_urg * 1000000 // nullif(new_n, 0) FROM agg
      )
      SELECT metric, CAST(old_value AS BIGINT) AS old_value,
        CAST(new_value AS BIGINT) AS new_value,
        CAST((new_value - old_value) * 1000000
          // nullif(abs(old_value), 0) AS BIGINT) AS rel_delta_micro,
        CASE WHEN old_value IS NULL OR new_value IS NULL
            OR nullif(old_value, 0) IS NULL THEN CAST(NULL AS BIGINT)
          ELSE CAST(abs((new_value - old_value) * 1000000
            // abs(old_value)) >= $DriftFlagMicro AS BIGINT)
          END AS drifted
      FROM melted ORDER BY metric"""))
  ,

    // ---- p14: embedding-space profile — the vector-modality
    //      extension of the column profiler (the QC a team runs before
    //      trusting ANN/clustering over an embedding column): per
    //      dimension the count, mean, population variance and exact
    //      micro min/max. A dead dimension (var 0), a scale-skewed
    //      dimension, or a clipped range shows up here before it
    //      poisons a cosine index. Arithmetic: components are
    //      micro-quantized up front (round(x·1e6), bit-identical on
    //      both engines), sums and sums-of-squares accumulate as exact
    //      DECIMAL(38,0) integers (no float summation-order
    //      nondeterminism — s4's k-means posture), and the two
    //      double divisions at the end are textually identical in both
    //      engines. Scale shape: ONE corpus melt (posexplode) into a
    //      map-side-combined aggregate over Dims groups — never more
    //      than a Dims-row frame after the single shuffle.
    "p14_embedding_profile" -> QueryDef(
      (s, dir) => {
        val m = Tables.table(s, dir, "embeddings")
          .filter(col("embedding").isNotNull)
          .select(posexplode(
            graft.text.Text.asDouble(col("embedding"))).as(Seq("pos", "x")))
          .select(col("pos").cast("long").as("pos"),
            round(col("x") * 1e6).cast("long").as("xq"))
        m.groupBy(col("pos"))
          .agg(count(lit(1)).as("n"),
            sum(col("xq").cast(DecimalType(38, 0))).as("sq"),
            // square in DECIMAL(19,0)x(19,0) -> (38,0), NOT in long:
            // a component >= ~3037 would overflow xq*xq at 64 bits —
            // exactly the scale-skewed dimension this profile exists
            // to catch (19+19 stays within both engines' 38-digit cap)
            sum(col("xq").cast(DecimalType(19, 0)) *
              col("xq").cast(DecimalType(19, 0))).as("sqq"),
            min(col("xq")).as("min_micro"),
            max(col("xq")).as("max_micro"))
          .select(col("pos"), col("n"),
            (col("sq").cast("double") / col("n") / lit(1e6)).as("mean_d"),
            (col("sqq").cast("double") / col("n") / lit(1e12)).as("msq"),
            col("min_micro"), col("max_micro"))
          .select(col("pos"), col("n"),
            round(col("mean_d"), 6).as("mean"),
            round(col("msq") - col("mean_d") * col("mean_d"), 6)
              .as("var_pop"),
            col("min_micro"), col("max_micro"))
          .orderBy(col("pos"))
      },
      Some("""WITH m AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS pos,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
            AS BIGINT) AS xq
        FROM embeddings WHERE embedding IS NOT NULL
      ), a AS (
        SELECT pos, count(*) AS n,
          sum(CAST(xq AS DECIMAL(38,0))) AS sq,
          sum(CAST(xq AS DECIMAL(19,0)) * CAST(xq AS DECIMAL(19,0)))
            AS sqq,
          min(xq) AS min_micro, max(xq) AS max_micro
        FROM m GROUP BY 1
      ), s AS (
        SELECT pos, n, CAST(sq AS DOUBLE) / n / 1e6 AS mean_d,
          CAST(sqq AS DOUBLE) / n / 1e12 AS msq, min_micro, max_micro
        FROM a
      )
      SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
        round(mean_d, 6) AS mean,
        round(msq - mean_d * mean_d, 6) AS var_pop,
        min_micro, max_micro
      FROM s ORDER BY pos""")),

    // ---- p15: heavy hitters — the exact top-5 most frequent values
    //      per profiled column, with each value's share of the
    //      column's non-null rows. The report every data card and
    //      skew-hunt starts from (a 40%-one-value join key or a
    //      "(null)"-string sentinel shows up HERE first). Scale shape:
    //      ONE scan per table melts its profiled columns into
    //      (col_name, value) pairs — the groupBy is map-side combined
    //      so the shuffle carries distinct values only, and the
    //      ranking window runs over per-column GROUPED counts (value
    //      cardinality), never rows. NULLs are excluded (their share
    //      is p1-p6's prop-missing metric); ties break on the value's
    //      binary order in both engines.
    "p15_heavy_hitters" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cols: Seq[(String, Seq[String])] = Seq(
          "orders" -> Seq("o_orderstatus", "o_orderpriority"),
          "customer" -> Seq("c_mktsegment"),
          "part" -> Seq("p_brand", "p_type"),
          "documents" -> Seq("lang", "source"))
        val melted = cols.map { case (tab, cs) =>
          Tables.table(s, dir, tab)
            .select(explode(array(cs.map(c =>
              struct(lit(c).as("col_name"),
                col(c).cast("string").as("value"))): _*)).as("kv"))
            .select(lit(tab).as("tab"), col("kv.col_name"),
              col("kv.value"))
            .filter(col("value").isNotNull)
        }.reduce(_ unionByName _)
        val g = melted.groupBy(col("tab"), col("col_name"), col("value"))
          .agg(count(lit(1)).as("cnt"))
        val byCol = Window.partitionBy(col("tab"), col("col_name"))
        g.withColumn("rnk", row_number().over(
            byCol.orderBy(col("cnt").desc, col("value"))).cast("long"))
          .withColumn("tot", sum(col("cnt")).over(byCol))
          .filter(col("rnk") <= 5)
          .withColumn("share_micro", expr("cnt * 1000000 div tot"))
          .select(col("tab"), col("col_name"), col("value"), col("cnt"),
            col("rnk"), col("share_micro"))
          .orderBy(col("tab"), col("col_name"), col("rnk"))
      },
      Some("""WITH m AS (
        SELECT 'orders' AS tab, 'o_orderstatus' AS col_name,
          CAST(o_orderstatus AS VARCHAR) AS value FROM orders
        UNION ALL SELECT 'orders', 'o_orderpriority',
          CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL SELECT 'customer', 'c_mktsegment',
          CAST(c_mktsegment AS VARCHAR) FROM customer
        UNION ALL SELECT 'part', 'p_brand',
          CAST(p_brand AS VARCHAR) FROM part
        UNION ALL SELECT 'part', 'p_type',
          CAST(p_type AS VARCHAR) FROM part
        UNION ALL SELECT 'documents', 'lang',
          CAST(lang AS VARCHAR) FROM documents
        UNION ALL SELECT 'documents', 'source',
          CAST(source AS VARCHAR) FROM documents
      ), g AS (
        SELECT tab, col_name, value, count(*) AS cnt FROM m
        WHERE value IS NOT NULL GROUP BY 1, 2, 3
      ), r AS (
        SELECT tab, col_name, value, cnt,
          row_number() OVER (PARTITION BY tab, col_name
            ORDER BY cnt DESC, value) AS rnk,
          sum(cnt) OVER (PARTITION BY tab, col_name) AS tot
        FROM g
      )
      SELECT tab, col_name, value, CAST(cnt AS BIGINT) AS cnt,
        CAST(rnk AS BIGINT) AS rnk,
        CAST(cnt * 1000000 // tot AS BIGINT) AS share_micro
      FROM r WHERE rnk <= 5 ORDER BY tab, col_name, rnk""")),

    // ---- p16: APPROXIMATE functional dependencies — the TANE g3
    //      error for EVERY ordered pair of p12's candidate columns
    //      (orders), where p9 only tests a hand-picked exact list. g3
    //      is the standard "how dirty" measure (Huhtala et al.): the
    //      minimum fraction of rows to delete for X -> Y to hold,
    //      = (n - sum_x max_y |X=x, Y=y|) / n. Real corpora rarely
    //      carry EXACT dependencies (one mistyped row kills p9's
    //      fd_holds), so the approximate report with an explicit error
    //      is the one profilers actually act on.
    //      Shape: the 30 ordered pairs are melted (values cast to
    //      string only to homogenize the union's type — grouping
    //      structure is unchanged, which is all g3 reads) in
    //      [[P16MeltShards]] sequential jobs, each followed by three
    //      shrinking key-equality groupBys: (pair,x,y) counts ->
    //      per-(pair,x) max/sum -> per-pair report. Map-side combine
    //      bounds the first shuffle by distinct (x,y) per pair, the
    //      report is 30 rows at any corpus size.
    "p16_approx_fds" -> QueryDef(
      (s, dir) => approxFds(s, dir),
      Some {
        val cols = KeyCols
        val pairs = for { i <- cols.indices; j <- cols.indices if i != j }
          yield (i, j)
        val selects = pairs.map { case (i, j) =>
          // CAST to VARCHAR mirrors the engine's cast-to-string melt:
          // grouping native values would diverge on numerically-equal
          // but distinct string forms (-0.0 vs 0.0 in o_totalprice)
          s"""SELECT 'orders.${cols(i)}' AS det_col,
            'orders.${cols(j)}' AS dep_col, x, max(c) AS mx, sum(c) AS cnt
          FROM (SELECT CAST(${cols(i)} AS VARCHAR) AS x,
                  CAST(${cols(j)} AS VARCHAR) AS y, count(*) AS c
                FROM orders GROUP BY 1, 2) GROUP BY 1, 2, 3"""
        }.mkString("\n        UNION ALL ")
        s"""WITH perx AS (
        $selects
      )
      SELECT det_col, dep_col,
        count(*) AS n_groups,
        CAST(sum(mx) AS BIGINT) AS n_keep,
        CAST(sum(cnt) AS BIGINT) AS n_rows,
        CAST((sum(cnt) - sum(mx)) * 1000000 // sum(cnt) AS BIGINT)
          AS g3_error_micro,
        CAST(sum(mx) = sum(cnt) AS BIGINT) AS holds_exact,
        CAST((sum(cnt) - sum(mx)) * 1000000 // sum(cnt)
          <= $ApproxFdTauMicro AS BIGINT) AS holds_approx
      FROM perx GROUP BY 1, 2 ORDER BY det_col, dep_col"""
      })
  )
}
