package graft.matcher

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.profile.ColumnProfiler
import graft.sources.Tables

/** Builds the per-column feature matrix feeding the semantic-type
  * classifier: the full [[ColumnProfiler]] profile joined with type
  * shares, one row per `table.column`. This replaces the reference's
  * driver-side List[(List[Double], String)] feature matrix (reference
  * TrainMlibSemanticTypeClassifier.scala:374-386) with a distributed
  * DataFrame end-to-end — at 100 TB the melt/aggregate runs on
  * executors and only O(#columns) profile rows ever reach the driver.
  */
object FeatureMatrix {

  /** Profile-derived feature column names. */
  val profileCols: Seq[String] = Seq(
    "prop_unique_vals", "prop_missing_vals", "ratio_alpha_chars",
    "prop_at_sign", "prop_currency", "prop_hyphen", "prop_paren",
    "mean_commas_per_entry", "mean_slashes_per_entry", "prop_range_format",
    "prop_numerical_chars", "prop_whitespace_chars", "is_discrete",
    "entropy_discrete", "shannon_entropy", "mean_len", "median_len",
    "mode_len", "min_len", "max_len",
    "share_int", "share_float", "share_bool", "share_date")

  /** Example-based name features (A22/A23 — reference
    * RfKnnFeatureExtractor.scala:42-99 and
    * MinEditDistFromClassExamplesFeatureExtractor.scala:32-84 feed the
    * classifier there too): kNN class proportions and per-class min edit
    * distance of the column NAME to the labelled example pool. These are
    * what separate `name` columns from `category` (value profiles of
    * both are low-cardinality strings; the header is the signal). */
  val NameK = 3
  val nameFeatureCols: Seq[String] =
    Labels.classes.map(c => s"prop_$c") ++
      Labels.classes.map(c => s"min_dist_$c")

  /** A19 one-hot feature columns (reference DataTypeFeatureExtractor,
    * FeatureExtractor.scala:665-731 feeds these 8 indicators to the
    * classifier alongside the profile features). */
  val typeOneHotCols: Seq[String] =
    graft.profile.ColumnProfiler.TypeKeys.map(k => s"inferred_type_$k")

  /** Numeric feature column names, in assembler order. */
  val featureCols: Seq[String] =
    profileCols ++ typeOneHotCols ++ nameFeatureCols

  /** (query_col, prop_*..., min_dist_*...) name features for a set of
    * column ids against the labelled pool with `k` neighbours (tiny
    * frames — broadcast joins, O(#columns x #pool) work). */
  def nameFeatures(cols: DataFrame, pool: DataFrame, k: Int = NameK): DataFrame =
    ExampleFeatures.knn(cols, pool, k, Labels.classes)
      .join(ExampleFeatures.minClassDistance(cols, pool, Labels.classes),
        "query_col")

  /** Melt the given (table -> columns) map into one long-format frame
    * with `table.column`-qualified col_name. `rowBound`, when set, caps
    * each table scan at the first `rowBound` rows BEFORE the melt — the
    * reference's S9 bounded-scan semantics (DataSetInterface.scala:
    * 214-295 samples from the first 4n rows only). */
  def melted(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])],
      rowBound: Option[Int] = None): DataFrame =
    tables.map { case (t, cols) =>
      val base = Tables.table(spark, dir, t)
      val bounded = rowBound.fold(base)(base.limit)
      ColumnProfiler.melt(bounded, cols)
        .select(concat(lit(t + "."), col("col_name")).as("col_name"),
          col("value"))
    }.reduce(_ unionByName _)

  /** Per-column sample cap for classifier features. The reference
    * computes matcher features on bounded samples, not full columns
    * (DataSetInterface.scala:214-295: first 4n rows, seeded sample of n
    * per column; type inference on <=100 values) — sampling IS the
    * semantics, and it is also what keeps the matcher leg O(#columns *
    * SampleN) at 100 TB. Hash-ordering replaces the seed so the sample
    * is deterministic under any partitioning. */
  val SampleN = 4000

  /** Melt capped at SampleN deterministic values per column: each table
    * scan is bounded to the first 4·SampleN rows (S9 — so no window
    * partition ever sorts more than 4·SampleN values, regardless of data
    * scale), then an md5-ordered row_number takes SampleN values per
    * column. md5 (not xxhash64) so the oracle can reproduce the exact
    * sample in DuckDB (`ORDER BY md5(value), value`) — both engines hash
    * the UTF-8 bytes to the same lowercase hex.
    *
    * Materialized (compute-once parquet, [[graft.core.Materialize]]):
    * every matcher query branches off this sample, so it is the natural
    * pipeline checkpoint — m3/m4/m6/m7/m8/m9 share one physical copy
    * instead of re-running the bounded scan + sample window each. */
  def sampledMelt(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])]): DataFrame = {
    val spec = tables.map { case (t, cs) => t + ":" + cs.mkString(",") }
      .mkString(";")
    graft.core.Materialize(spark, s"melt|$dir|$spec") {
      sampledMeltCompute(spark, dir, tables)
    }
  }

  /** The raw (unmaterialized) sample computation — exposed so plan-shape
    * tests can assert the S9 bound on the compute plan itself; callers
    * use [[sampledMelt]]. */
  def sampledMeltCompute(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name"))
      .orderBy(md5(col("value").cast("binary")), col("value"))
    melted(spark, dir, tables, rowBound = Some(4 * SampleN))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SampleN).drop("rn")
  }

  /** Feature matrix under a [[FeaturesConfig]]: inactive families are
    * not just dropped from the projection — their extractor joins are
    * skipped entirely (a config without name features never builds the
    * kNN/min-dist join; one without type one-hots never runs the
    * inference battery), the reference's activeGroupFeatures semantics.
    * The default config reproduces the unconfigured matrix exactly. */
  def features(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])],
      config: FeaturesConfig = FeaturesConfig.Default): DataFrame = {
    import spark.implicits._
    // the melt is materialized (parquet-backed) — each profiling pass
    // below re-scans a small bounded file, no executor-memory cache
    // held — and rebalanced: the bounded sample is one small file, and
    // the profiler's explode-heavy passes must not start on one task
    val m = graft.sources.Tables.rebalance(sampledMelt(spark, dir, tables))
    // shares folded into the profile's base pass when active (one
    // aggregation + no join instead of two passes; identical values —
    // see ColumnProfiler.profileWithShares)
    var out =
      if (config.needsTypeShares) ColumnProfiler.profileWithShares(m)
      else ColumnProfiler.profile(m)
    if (config.needsTypeOneHots)
      out = out.join(
        ColumnProfiler.inferredTypeOneHots(m).drop("inferred_type"),
        Seq("col_name"))
    if (config.needsNameFeatures) {
      val colsDf = tables
        .flatMap { case (t, cs) => cs.map(c => s"$t.$c") }
        .toDF("col_name")
      val pool = Labels.train
        .map { case (t, c, l) => (s"$t.$c", l) }.toDF("col_name", "label")
      val nf = nameFeatures(colsDf, pool, config.knnNeighbours)
      out = out.join(nf, col("col_name") === nf("query_col"))
    }
    out.select(col("col_name") +: config.featureCols.map(c =>
      coalesce(col(c).cast("double"), lit(-1.0)).as(c)): _*)
  }
}
