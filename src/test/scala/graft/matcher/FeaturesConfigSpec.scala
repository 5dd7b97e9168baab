package graft.matcher

import graft.SparkSpec
import graft.core.Octopus
import graft.modeler.{ModelerQueries, Ontology}
import org.apache.spark.ml.feature.VectorAssembler

class FeaturesConfigSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // reference-shaped document (matcher/src/test/resources/config/
  // features_config.json): kebab-case names, kNN param override
  private val reducedJson =
    """{
      "activeFeatures": [
        "prop-unique-vals",
        "propMissingVals",
        "ratioAlphaChars",
        "is-discrete",
        "entropy-for-discrete-values"
      ],
      "activeFeatureGroups": [
        "inferred-data-type",
        "stats-of-text-length",
        "prop-instances-per-class-in-knearestneighbours"
      ],
      "featureExtractorParams": [
        {
          "name": "prop-instances-per-class-in-knearestneighbours",
          "num-neighbours": 5
        }
      ]
    }"""

  test("default config reproduces the full canonical feature set") {
    assert(FeaturesConfig.Default.featureCols === FeatureMatrix.featureCols)
    assert(FeaturesConfig.Default.knnNeighbours === FeatureMatrix.NameK)
    // round-trip: persisted default parses back to the same active set
    val rt = FeaturesConfig.fromJson(FeaturesConfig.Default.toJson)
    assert(rt.featureCols === FeatureMatrix.featureCols)
  }

  test("reference-shaped JSON parses: aliases, groups, extractor params") {
    val c = FeaturesConfig.fromJson(reducedJson)
    assert(c.knnNeighbours === 5)
    val expected = FeatureMatrix.featureCols.filter((
      Set("prop_unique_vals", "prop_missing_vals", "ratio_alpha_chars",
        "is_discrete", "entropy_discrete") ++
        FeaturesConfig.Groups(FeaturesConfig.LengthStatsGroup) ++
        FeatureMatrix.typeOneHotCols ++
        Labels.classes.map(cl => s"prop_$cl")).contains)
    assert(c.featureCols === expected,
      "active cols must be the canonical order filtered to the active set")
    assert(!c.featureCols.exists(_.startsWith("min_dist_")),
      "min-editdistance group not activated")
    assert(!c.featureCols.contains("share_int"),
      "stats-of-numerical-type group not activated")
    assert(c.needsNameFeatures && c.needsTypeOneHots && !c.needsTypeShares)
  }

  test("training under a reduced config sets the assembler to the reduced order") {
    val cfg = FeaturesConfig.fromJson(reducedJson)
    val feat = FeatureMatrix.features(spark, sf, Labels.trainTables, cfg)
    assert(feat.columns.toSeq === ("col_name" +: cfg.featureCols),
      "feature frame carries exactly the active columns")
    val labelled = feat.join(MatcherSession.trainLabelsDf(spark), "col_name")
    val model = SemanticTypeClassifier.train(labelled, cfg)
    val assembler = model.stages(1).asInstanceOf[VectorAssembler]
    assert(assembler.getInputCols.toSeq === cfg.featureCols)
    // predictions run end-to-end on the reduced matrix
    val holdout = FeatureMatrix.features(spark, sf, Labels.holdoutTables, cfg)
    val preds = SemanticTypeClassifier.predict(model, holdout)
    assert(preds.count() === Labels.holdout.size.toLong)
    // importances name the reduced features, not the full canon
    val imp = SemanticTypeClassifier.featureImportances(model)
    assert(imp.map(_._1).toSet === cfg.featureCols.toSet)
  }

  test("octopus persists the config with the model and reload restores it") {
    val work = tempDir("graft-featcfg").toString
    val cfg = FeaturesConfig.fromJson(reducedJson)
    val oct = new Octopus(Ontology.tpch,
      Seq(ModelerQueries.knownOrderModel), work, cfg)
    assert(oct.train(spark, sf) === Octopus.Complete)
    val saved = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/features.json"))
    val parsed = FeaturesConfig.fromJson(saved)
    assert(parsed.featureCols === cfg.featureCols)
    assert(parsed.knnNeighbours === 5)
    // a FRESH octopus (default config) restores the trained config on
    // reload — predictions after a restart use the trained-with set
    val oct2 = new Octopus(Ontology.tpch,
      Seq(ModelerQueries.knownOrderModel), work)
    assert(oct2.reload().isDefined)
    assert(oct2.featuresConfig.featureCols === cfg.featureCols)
    assert(oct2.featuresConfig.knnNeighbours === 5)
    val pred = oct2.predict(spark, sf, Labels.holdoutTables)
    assert(pred.columnPredictions.count() === Labels.holdout.size.toLong)
  }
}
