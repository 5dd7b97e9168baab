package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.matcher.{FeatureMatrix, FeaturesConfig, Labels, SemanticTypeClassifier}
import graft.modeler.{AlignmentGraph, Ontology, SemanticModel, SemanticModeler}

/** Octopus = matcher + modeler composition with the train-state machine
  * (reference core drivers/OctopusInterface.scala:219-303, state machine
  * types/ModelTypes.scala:83-100 UNTRAINED/BUSY/COMPLETE/ERROR, cache
  * invalidation by modified date OctopusInterface.checkTraining:81-110).
  *
  * Training runs the two legs like the reference does — matcher model
  * and alignment graph — and caches both; `checkTraining` invalidates
  * when inputs are newer than the trained artifacts. */
class Octopus(
    val ontology: Ontology,
    val knownModels: Seq[SemanticModel],
    val workDir: String,
    initialConfig: FeaturesConfig = FeaturesConfig.Default,
    /** Matcher label -> ontology (class, data property) — the analogue
      * of the reference's semanticTypeMap (KarmaSuggestModel.scala:
      * 119-141; labels of `Class---property` form resolve without it). */
    val semanticTypeMap: Map[String, (String, String)] = Map.empty,
    /** P3 cutoff for confidently-`unknown` columns (reference
      * ModelingProperties.unknownThreshold, SsdTypes.scala:447-469). */
    val unknownThreshold: Double = SemanticModeler.UnknownThreshold) {

  import Octopus._

  @volatile private var state: TrainState = Untrained
  private var model: Option[PipelineModel] = None
  private var align: Option[AlignmentGraph] = None
  private var trainedAt: Long = 0L
  // persisted with the model, restored by reload(): predictions after a
  // restart must extract features under the SAME config the model was
  // trained with (a different kNN k would silently shift prop_* inputs)
  private var cfg: FeaturesConfig = initialConfig

  def trainState: TrainState = state
  def featuresConfig: FeaturesConfig = cfg

  /** Matcher leg: feature extraction + RF fit (Spark). Protected so
    * specs can instrument overlap / failure injection. */
  protected def trainMatcherLeg(spark: SparkSession, dir: String): PipelineModel = {
    val trainFeat = {
      import spark.implicits._
      FeatureMatrix.features(spark, dir, Labels.trainTables, cfg)
        .join(Labels.train.map { case (t, c, l) => (s"$t.$c", l) }
          .toDF("col_name", "label"), "col_name")
    }
    SemanticTypeClassifier.train(trainFeat, cfg)
  }

  /** Alignment leg: graph build from the known models (driver). */
  protected def trainAlignmentLeg(): AlignmentGraph = {
    val a = new AlignmentGraph(ontology)
    knownModels.foreach(a.add)
    a
  }

  /** Train both legs CONCURRENTLY and combine through the reference's
    * 4-way success/failure matrix (reference
    * OctopusInterface.scala:219-303: matcher Future + alignment Future,
    * both-succeed -> Complete, any failure -> Error naming the leg).
    * State transitions happen under the lock; leg execution does not,
    * so a concurrent train() observes Busy instead of blocking. */
  def train(spark: SparkSession, dir: String): TrainState = {
    synchronized {
      if (state == Busy) return Busy
      if (state == Complete && !inputsModifiedSince(dir, trainedAt))
        return Complete
      state = Busy
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success, Try}
    implicit val ec = Octopus.trainEc
    val mF = Future(trainMatcherLeg(spark, dir))
    val aF = Future(trainAlignmentLeg())
    val mR = Try(Await.result(mF, Duration.Inf))
    val aR = Try(Await.result(aF, Duration.Inf))
    val next = (mR, aR) match {
      case (Success(m), Success(a)) =>
        try {
          // persist (M9: PipelineModel.save + JSON sidecars)
          val mp = s"$workDir/pipeline"
          m.write.overwrite().save(mp)
          Files.createDirectories(Paths.get(workDir))
          Files.writeString(Paths.get(s"$workDir/alignment.json"), a.toJson)
          // known models as JSONL (one per line) so reload() can rebuild
          // the alignment graph — the edge export above is for consumers,
          // the model list is the graph's actual state
          Files.writeString(Paths.get(s"$workDir/known_models.jsonl"),
            knownModels.map(_.toJson).mkString("\n"))
          // full features config (activeFeatures/groups/params + resolved
          // assembler column order) rides with the model artifacts
          Files.writeString(Paths.get(s"$workDir/features.json"), cfg.toJson)
          synchronized { model = Some(m); align = Some(a) }
          trainedAt = System.currentTimeMillis()
          Complete
        } catch { case e: Exception => Error(s"persist: ${e.getMessage}") }
      case (Failure(em), Failure(ea)) =>
        Error(s"matcher leg: ${em.getMessage}; alignment leg: ${ea.getMessage}")
      case (Failure(em), _) => Error(s"matcher leg: ${em.getMessage}")
      case (_, Failure(ea)) => Error(s"alignment leg: ${ea.getMessage}")
    }
    synchronized { state = next }
    next
  }

  /** Reload both persisted legs (M9 deserialization path): the matcher
    * pipeline and the alignment graph rebuilt from the stored known
    * models. When both restore, the state machine returns to Complete —
    * a fresh JVM can predict without retraining. */
  def reload(): Option[PipelineModel] = synchronized {
    val mp = s"$workDir/pipeline"
    if (!Files.exists(Paths.get(mp))) None
    else {
      val m = PipelineModel.load(mp)
      model = Some(m)
      val fp = Paths.get(s"$workDir/features.json")
      if (Files.exists(fp))
        cfg = FeaturesConfig.fromJson(Files.readString(fp))
      val kp = Paths.get(s"$workDir/known_models.jsonl")
      if (Files.exists(kp)) {
        val a = new AlignmentGraph(ontology)
        Files.readString(kp).split("\n").filter(_.trim.nonEmpty)
          .foreach(line => a.add(SemanticModel.fromJson(line)))
        align = Some(a)
        trainedAt = Files.getLastModifiedTime(kp).toMillis
        state = Complete
      }
      Some(m)
    }
  }

  /** Predict: matcher semantic types for the held-out tables, then
    * modeler suggestions driven by the LEARNED types (reference
    * OctopusInterface.predictOctopus:491-545 ->
    * PredictOctopus.predict:60-90): the classifier's per-class score
    * maps pass through the P3 unknown-threshold filter
    * (PredictOctopus.filterColumnPredictions:101-122 — confidently-
    * `unknown` and all-zero columns are dropped from the model), and
    * the surviving predictions are injected as candidate semantic
    * types (KarmaSuggestModel.scala:175-217), merged with the
    * name-based candidates. The scored frame is collected exactly once
    * — column-count bounded (one row per predicted column), never
    * data-proportional — and `columnPredictions` is a local frame over
    * those rows in `col_name` order, so its consumers start no job. */
  def predict(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])]): OctopusPrediction = {
    // IllegalStateException, NOT require/IllegalArgumentException: this
    // is a CLIENT-state error (predict before/while/after-failed train)
    // and the HTTP layer maps ISE to 409, where an IAE would surface as
    // a 500 server fault
    if (state != Complete)
      throw new IllegalStateException(s"octopus not trained (state=$state)")
    val m = model.get
    val feat = FeatureMatrix.features(spark, dir, tables, cfg)
    val scored = SemanticTypeClassifier.predict(m, feat)
    // the one pass over the feature plan: every consumer reads these rows
    val rows = scored.collect().sortBy(_.getString(0))
    val colPreds = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), scored.schema)
    val predMap: Map[String, SemanticModeler.ColumnPrediction] =
      rows.map { r =>
        r.getString(0) -> SemanticModeler.ColumnPrediction(
          r.getString(1), r.getDouble(2),
          r.getMap[String, Double](r.fieldIndex("scores")).toMap)
      }.toMap
    val filtered =
      SemanticModeler.filterPredictions(predMap, unknownThreshold)
    val cols = tables.flatMap { case (t, cs) => cs.map(c => s"$t.$c") }
    val cands = cols.flatMap { c =>
      (predMap.get(c), filtered.get(c)) match {
        // P3: predicted but filtered out — excluded from the model,
        // exactly the reference's "new ssd with such columns filtered"
        case (Some(_), None) => None
        case (_, fp) =>
          val learned = fp.map(p => SemanticModeler.learnedCandidates(
            p.scores, ontology, semanticTypeMap)).getOrElse(Nil)
          Some(c -> SemanticModeler.mergeCandidates(
            learned, SemanticModeler.nameCandidates(c, ontology)))
      }
    }
    val suggestions = SemanticModeler.suggest(align.get, cands)
    OctopusPrediction(colPreds, suggestions, filtered)
  }

  private def inputsModifiedSince(dir: String, t: Long): Boolean = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return false
    // walk (not list): nested input files must invalidate too; the
    // stream is closed in finally so no fd leaks per train() call
    val s = Files.walk(p)
    try s.anyMatch(f => Files.getLastModifiedTime(f).toMillis > t)
    finally s.close()
  }
}

object Octopus {

  /** Dedicated 2-thread pool for the two training legs (daemon threads
    * — never blocks JVM exit; the global EC would risk starvation under
    * a loaded scheduler). */
  private[core] lazy val trainEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "octopus-train-leg")
        t.setDaemon(true)
        t
      }))

  sealed trait TrainState
  case object Untrained extends TrainState
  case object Busy extends TrainState
  case object Complete extends TrainState
  final case class Error(message: String) extends TrainState

  final case class OctopusPrediction(
      columnPredictions: DataFrame,
      suggestions: Seq[SemanticModeler.Suggestion],
      /** Post-P3 predictions that actually drove the suggestions;
        * columns the filter dropped are absent. */
      filteredPredictions: Map[String, SemanticModeler.ColumnPrediction] = Map.empty) {

    /** One `{"col","label","confidence"}` JSON object per column, in
      * `col_name` order — the wire form the REST server and the CLI
      * share. */
    def columnJson: Seq[String] =
      columnPredictions.select("col_name", "predicted_label", "confidence")
        .collect().toSeq.map(r =>
          s"""{"col":${Json.str(r.getString(0))},"label":${Json.str(r.getString(1))},"confidence":${r.getDouble(2)}}""")

    /** One `{"suggestion","linkCost","triples"}` JSON object per ranked
      * suggestion, numbered from 1. */
    def suggestionJson: Seq[String] =
      suggestions.zipWithIndex.map { case (sug, i) =>
        val triples = sug.model.triples.toSeq.sorted
          .map { case (a, p, b) =>
            s"[${Json.str(a)},${Json.str(p)},${Json.str(b)}]" }
          .mkString(",")
        s"""{"suggestion":${i + 1},"linkCost":${sug.scores.linkCost},"triples":[$triples]}"""
      }
  }
}
