package graft.core

import graft.SparkSpec
import graft.matcher.Labels
import graft.modeler.{ModelerQueries, Ontology}
import graft.functions.{Transformation, Transformations}

class OctopusSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("octopus trains both legs, persists, predicts, and reloads") {
    val work = tempDir("graft-octopus").toString
    val oct = new Octopus(Ontology.tpch,
      Seq(ModelerQueries.knownOrderModel), work)
    assert(oct.trainState === Octopus.Untrained)
    assert(oct.train(spark, sf) === Octopus.Complete)
    // persisted artifacts exist (M9)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/pipeline")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/alignment.json")))
    // retrain with unchanged inputs is a cached no-op
    assert(oct.train(spark, sf) === Octopus.Complete)
    val pred = oct.predict(spark, sf, Labels.holdoutTables)
    assert(pred.columnPredictions.count() === Labels.holdout.size.toLong)
    // compute once: the predictions are local rows, so neither a
    // consumer's collect nor the wire renderer's projection can re-run
    // the feature plan
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    assert(pred.columnPredictions.queryExecution.optimizedPlan
      .isInstanceOf[LocalRelation])
    assert(pred.columnPredictions
      .select("col_name", "predicted_label", "confidence")
      .queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(pred.columnJson.size === Labels.holdout.size)
    assert(pred.suggestions.nonEmpty)
    assert(pred.suggestions.forall(_.model.isConnected))
    // reload path
    assert(oct.reload().isDefined)
  }

  test("training legs run concurrently (reference two-Future overlap)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val work = tempDir("graft-conc").toString
    // each leg signals its start, then waits for the OTHER leg to have
    // started: completion is only possible if both run at once. The
    // timeout makes a sequential implementation fail, not hang.
    val matcherStarted = new CountDownLatch(1)
    val alignStarted = new CountDownLatch(1)
    @volatile var overlapped = true
    val oct = new Octopus(Ontology.tpch,
      Seq(ModelerQueries.knownOrderModel), work) {
      override protected def trainMatcherLeg(
          s: org.apache.spark.sql.SparkSession, d: String) = {
        matcherStarted.countDown()
        if (!alignStarted.await(30, TimeUnit.SECONDS)) overlapped = false
        super.trainMatcherLeg(s, d)
      }
      override protected def trainAlignmentLeg() = {
        alignStarted.countDown()
        if (!matcherStarted.await(30, TimeUnit.SECONDS)) overlapped = false
        super.trainAlignmentLeg()
      }
    }
    assert(oct.train(spark, sf) === Octopus.Complete)
    assert(overlapped, "legs never overlapped — training ran sequentially")
  }

  test("single-leg failures map to Error through the 4-way state matrix") {
    def octWith(failMatcher: Boolean, failAlign: Boolean) = {
      val work = tempDir("graft-fail").toString
      new Octopus(Ontology.tpch, Seq(ModelerQueries.knownOrderModel), work) {
        override protected def trainMatcherLeg(
            s: org.apache.spark.sql.SparkSession, d: String) = {
          if (failMatcher) sys.error("matcher boom")
          super.trainMatcherLeg(s, d)
        }
        override protected def trainAlignmentLeg() = {
          if (failAlign) sys.error("align boom")
          super.trainAlignmentLeg()
        }
      }
    }
    val m = octWith(failMatcher = true, failAlign = false).train(spark, sf)
    assert(m.isInstanceOf[Octopus.Error]
      && m.asInstanceOf[Octopus.Error].message.contains("matcher leg"))
    val a = octWith(failMatcher = false, failAlign = true).train(spark, sf)
    assert(a.isInstanceOf[Octopus.Error]
      && a.asInstanceOf[Octopus.Error].message.contains("alignment leg"))
    val both = octWith(failMatcher = true, failAlign = true).train(spark, sf)
    assert(both.isInstanceOf[Octopus.Error]
      && both.asInstanceOf[Octopus.Error].message.contains("matcher leg")
      && both.asInstanceOf[Octopus.Error].message.contains("alignment leg"))
    // an Error octopus can retrain to Complete (state machine recovers)
    val ok = octWith(failMatcher = false, failAlign = false)
    assert(ok.train(spark, sf) === Octopus.Complete)
  }

  test("classifier predictions drive the modeler suggestions (P3 + G5)") {
    import graft.matcher.FeaturesConfig
    import graft.modeler.SemanticModeler
    def mkOct(typeMap: Map[String, (String, String)]) = {
      val work = tempDir("graft-g5").toString
      val o = new Octopus(Ontology.tpch, Seq(ModelerQueries.knownOrderModel),
        work, FeaturesConfig.Default, typeMap)
      assert(o.train(spark, sf) === Octopus.Complete)
      o
    }
    val predL = mkOct(ModelerQueries.tpchTypeMap)
      .predict(spark, sf, Labels.holdoutTables)
    val predN = mkOct(Map.empty).predict(spark, sf, Labels.holdoutTables)

    // P3 ran: every surviving column carries a filtered prediction whose
    // label is a known class with positive confidence and no `unknown`
    // key left in the score map
    assert(predL.filteredPredictions.nonEmpty)
    predL.filteredPredictions.foreach { case (colName, p) =>
      assert(Labels.holdout.exists { case (t, c, _) => s"$t.$c" == colName })
      assert(Labels.classes.contains(p.label))
      assert(p.confidence > 0)
      assert(!p.scores.contains(SemanticModeler.UnknownClass))
    }

    // G5 ran: the typeMap octopus's suggestions are NOT the name-only
    // suggestions — the classifier's learned types reached the modeler
    val lSugs = predL.suggestions.map(s => (s.model.triples, s.scores))
    val nSugs = predN.suggestions.map(s => (s.model.triples, s.scores))
    assert(lSugs !== nSugs,
      "learned semantic types had no effect on the suggested models")
    assert(predL.suggestions.forall(_.model.isConnected))
  }

  test("transformations rewrite only the targeted semantic class") {
    import spark.implicits._
    val df = Seq(("phone", "(02) 1234"), ("name", "(02) 1234"))
      .toDF("label", "value")
    val out = Transformations.apply(df, "value", "label",
      Seq(Transformation("phone", "[^0-9]", "")))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("phone") === "021234")
    assert(out("name") === "(02) 1234")
  }
}
