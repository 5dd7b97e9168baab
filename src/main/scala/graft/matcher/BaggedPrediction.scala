package graft.matcher

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.profile.ColumnProfiler

/** Bagged prediction (reference MLibSemanticTypeClassifier.scala:153-167
  * + FeatureExtractorUtil.extractBaggingFeatures:123-181): each column's
  * values are split into bags, every bag is profiled and classified
  * independently, and the per-class score vectors are averaged back into
  * one prediction per column — `groupBy(col).avg(score_k)` is exactly
  * the reference's partial+final bag aggregation (A28), and the argmax
  * over averaged scores is A29.
  *
  * Bags follow the reference's testBagging contract via
  * [[Resampler.assignBags]]: numBags=50 bags of bagSize=100
  * deterministically sampled values per column, with replacement-fill
  * for short columns — the whole path is partition-order independent. */
object BaggedPrediction {

  /** Predict per-column labels by averaging per-bag score vectors. */
  def predict(model: PipelineModel, melted: DataFrame,
      numBags: Int = Resampler.DefaultNumBags,
      bagSize: Int = Resampler.DefaultBagSize): DataFrame = {
    // parquet-checkpointed, not persist()ed or localCheckpoint()ed:
    // the profiler + type shares + name features make ~9 passes over
    // the bagged melt, and a persist leaves the full bag-explode-window
    // LINEAGE inlined into every consumer's plan — 9 copies of the
    // subtree to optimize and, pre-materialization, 9× its shuffles in
    // the physical plan (the old pinned budget of 51). A storage-backed
    // checkpoint cuts lineage so each pass plans as a scan of the
    // config-bounded bag table (#cols × numBags × bagSize rows —
    // KB-to-MB at any corpus scale) — and unlike localCheckpoint it
    // SURVIVES Caches.release (unpersisting a local checkpoint deletes
    // its only copy with the lineage already gone; the async train-end
    // release could land mid-collection of this frame and crash it —
    // the Materialize rationale, applied per call because predict has
    // no stable cache key across arbitrary datasets)
    val spark = melted.sparkSession
    // the dir must outlive every LAZY consumer of the returned frame,
    // which no caller can bound (specs predict concurrently; an eager
    // drain was measured deleting a dir another suite's frame was
    // still reading), so it lives until the JVM-exit delete of
    // Materialize's root — KB-to-MB per call
    val scratch = graft.core.Materialize.scratchDir()
    Resampler.assignBags(melted, numBags, bagSize)
      .withColumn("col_name",
        concat(col("col_name"), lit("#"), col("bag_id")))
      .drop("bag_id")
      .write.mode("overwrite").parquet(scratch)
    val bagged = spark.read.parquet(scratch)
    import spark.implicits._
    val pool = Labels.train
      .map { case (t, c, l) => (s"$t.$c", l) }.toDF("col_name", "label")
    val nf = FeatureMatrix.nameFeatures(
      bagged.select(col("col_name")).distinct(), pool)
    // profile + type shares in ONE base aggregation pass
    // (ColumnProfiler.profileWithShares — values identical to the
    // profile ⋈ typeShares pair it replaces, one fewer full pass over
    // the bag table and one fewer join, guide §2.4)
    // boundedInput: every bag column holds exactly bagSize values, so
    // when bagSize ≤ TypeSampleN the type vote's sample window is an
    // identity selection — skip its shuffle+sort (values unchanged;
    // see inferredTypeOneHots)
    val feat = ColumnProfiler.profileWithShares(bagged)
      .join(ColumnProfiler.inferredTypeOneHots(bagged,
          boundedInput = bagSize <= ColumnProfiler.TypeSampleN)
        .drop("inferred_type"),
        Seq("col_name"))
      .join(nf, col("col_name") === nf("query_col"))
      .select(col("col_name") +: FeatureMatrix.featureCols.map(c =>
        coalesce(col(c).cast("double"), lit(-1.0)).as(c)): _*)
    val perBag = SemanticTypeClassifier.predict(model, feat)
      .withColumn("base_col", substring_index(col("col_name"), "#", 1))
    // average the per-bag score maps class-wise, then argmax. The class
    // set comes from the MODEL's StringIndexer labels — exactly the keys
    // predict() builds each score map from — NOT from a
    // map_keys-explode-distinct over perBag, which would execute the
    // entire bagged feature pipeline a second time just to learn names
    // the model already knows (measured as ~half of m8's wall-clock)
    val classes = model.stages(0)
      .asInstanceOf[org.apache.spark.ml.feature.StringIndexerModel]
      .labelsArray.head.sorted.toIndexedSeq
    val avgScores = perBag.groupBy(col("base_col"))
      .agg(
        count(lit(1)).as("n_bags"),
        classes.map(c =>
          round(avg(element_at(col("scores"), c)), 6).as(s"score_$c")): _*)
    val best = classes.map(c =>
      struct(col(s"score_$c").as("score"), lit(c).as("cls")))
      .reduce((a, b) => when(a.getField("score") >= b.getField("score"), a)
        .otherwise(b))
    avgScores
      .withColumn("predicted_label", best.getField("cls"))
      .withColumn("confidence", best.getField("score"))
      .select(col("base_col").as("col_name"), col("predicted_label"),
        col("confidence"), col("n_bags"))
      .orderBy(col("col_name"))
  }
}
