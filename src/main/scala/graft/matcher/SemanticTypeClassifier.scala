package graft.matcher

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Random-forest semantic-type classifier over column profiles — the
  * Spark-native rebuild of the reference matcher pipeline
  * (reference TrainMlibSemanticTypeClassifier.scala:202-231:
  * StringIndexer -> VectorAssembler -> RandomForest -> IndexToString,
  * numTrees=128 depth=10 gini seed=5043, 10 trees when under 20 training
  * rows per the tiny-data guard at :164-171).
  *
  * The training matrix is one row per *column* (tiny at any data
  * scale), so `train` collects it once into a local frame —
  * the feature plan runs one time, not once per pass of the fit — and
  * `repartition(1)` before fit costs nothing and pins RF determinism
  * (the reference's makeRDD(numSlices=1) FIXME at :187-190).
  */
object SemanticTypeClassifier {

  val Seed = 5043
  val NumTrees = 128
  val TinyDataTrees = 10
  val MaxDepth = 10

  /** Train on a feature frame that has a `label` column. The assembler
    * order is the config's active subsequence of the canonical feature
    * order ([[FeaturesConfig.featureCols]]); the default config is the
    * full set.
    *
    * When the config carries [[FeaturesConfig.classWeights]] (the
    * reference's stubbed CostMatrix strategy,
    * ClassImbalanceResampler.scala:409-411), each training row is
    * weighted by its class's weight via the RF's `weightCol` — cost-
    * sensitive training without resampling. Default (empty map) is
    * bit-identical to the unweighted path: no weight column is added,
    * so the m4/m7/m8 prediction pins hold. */
  def train(labelled: DataFrame,
      config: FeaturesConfig = FeaturesConfig.Default): PipelineModel = {
    // one row per column: brought local once, so the count, the label
    // list, the indexer fit and the RF passes below read these rows
    // instead of re-running the feature plan each
    val rows = labelled.collect()
    val local = labelled.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), labelled.schema)
    val n = rows.length
    val weights = config.classWeights
    val weighted =
      if (weights.isEmpty) local
      else local.withColumn("class_w",
        weights.foldLeft(lit(1.0)) { case (acc, (label, w)) =>
          when(col("label") === label, lit(w)).otherwise(acc) })
    val indexer = new StringIndexer()
      .setInputCol("label").setOutputCol("label_idx")
      .setStringOrderType("alphabetAsc")
    val assembler = new VectorAssembler()
      .setInputCols(config.featureCols.toArray)
      .setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setLabelCol("label_idx").setFeaturesCol("features")
      .setNumTrees(if (n < 20) TinyDataTrees else NumTrees)
      .setMaxDepth(MaxDepth)
      .setImpurity("gini")
      .setSeed(Seed)
    if (weights.nonEmpty) rf.setWeightCol("class_w")
    val converter = new IndexToString()
      .setInputCol("prediction").setOutputCol("predicted_label")
      .setLabels(rows.map(_.getAs[String]("label")).distinct.sorted)
    val pipeline = new Pipeline()
      .setStages(Array(indexer, assembler, rf, converter))
    pipeline.fit(weighted.repartition(1).sortWithinPartitions("col_name"))
  }

  /** Predict labels for a feature frame; returns col_name, predicted
    * label, confidence, and the per-class score map (reference
    * ColumnPrediction, ModelTypes.scala:281-295). */
  def predict(model: PipelineModel, features: DataFrame): DataFrame = {
    val indexer = model.stages(0)
      .asInstanceOf[org.apache.spark.ml.feature.StringIndexerModel]
    val classes = indexer.labelsArray.head
    val scored = model.transform(features)
      .withColumn("probs", vector_to_array(col("probability")))
    scored.select(
      col("col_name"),
      col("predicted_label"),
      round(array_max(col("probs")), 6).as("confidence"),
      map_from_arrays(
        lit(classes),
        transform(col("probs"), p => round(p, 6))).as("scores"))
  }

  /** Gini feature importances, descending (reference
    * ModelTrainer.scala:196-238). Names come from the model's own
    * assembler, so they stay correct for any [[FeaturesConfig]] the
    * model was trained under. */
  def featureImportances(model: PipelineModel): Seq[(String, Double)] = {
    val rf = model.stages(2)
      .asInstanceOf[org.apache.spark.ml.classification.RandomForestClassificationModel]
    model.stages(1).asInstanceOf[VectorAssembler]
      .getInputCols.toSeq.zip(rf.featureImportances.toArray)
      .sortBy(-_._2)
  }
}
