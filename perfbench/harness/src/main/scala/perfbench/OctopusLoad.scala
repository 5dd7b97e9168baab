package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.core.{GraftService, Octopus}
import graft.matcher.{ExampleFeatures, FeatureMatrix, FeaturesConfig, Labels, SemanticTypeClassifier}
import graft.modeler.{AlignmentGraph, Ontology, SemanticModeler}
import graft.profile.ColumnProfiler
import graft.sources.Tables

/** The service with its train and predict entry points timed, and run as
  * `core` spans when traced. Nothing else is changed. */
final class TimedService(root: String, trace: Trace) extends GraftService(root) {
  /** (dataset id, start ns, end ns) of every predict call. */
  val predicts = new ConcurrentLinkedQueue[(Int, Long, Long)]()

  override def trainModelAsync(spark: SparkSession, modelId: Int,
      datasetId: Int): Octopus.TrainState =
    trace.span("core")(super.trainModelAsync(spark, modelId, datasetId))

  override def predictModel(spark: SparkSession, modelId: Int,
      datasetId: Int): Octopus.OctopusPrediction = {
    val t0 = System.nanoTime()
    try trace.span("core")(super.predictModel(spark, modelId, datasetId))
    finally predicts.add((datasetId, t0, System.nanoTime()))
  }
}

/** The serving workload: `GraftHttpServer` on loopback, one model
  * trained over REST, then two closed-loop clients asking for
  * predictions over a seeded sequence of column sets. */
final class OctopusLoad(spark: () => SparkSession, dir: String, seed: Long) {

  import OctopusLoad._

  /** Non-array columns of the eight TPC-H-ish tables. */
  lazy val pool: Seq[(String, Seq[String])] = PoolTables.map { t =>
    t -> Tables.table(spark(), dir, t).schema.fields.toSeq.collect {
      case f if !f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.isInstanceOf[MapType] &&
        !f.dataType.isInstanceOf[StructType] => f.name
    }
  }

  /** The request sequence: each set is 3 columns of each of 2 tables,
    * so a run's cost does not depend on how large its seed's sets
    * happen to be. In every block of four requests exactly one is a
    * fresh set (the very first request always is); the other three
    * repeat a set already asked for. */
  lazy val sequence: Seq[Seq[(String, Seq[String])]] = {
    val rnd = new scala.util.Random(seed)
    def fresh(): Seq[(String, Seq[String])] = {
      rnd.shuffle(pool).take(2)
        .map { case (t, cs) => t -> rnd.shuffle(cs).take(3).sorted }
        .sortBy(_._1)
    }
    val sets = collection.mutable.ArrayBuffer[Seq[(String, Seq[String])]]()
    val out = collection.mutable.ArrayBuffer[Seq[(String, Seq[String])]]()
    for (block <- 0 until MaxRequests / 4) {
      val freshAt = if (block == 0) 0 else rnd.nextInt(4)
      for (i <- 0 until 4) {
        if (i == freshAt) {
          var s = fresh()
          while (sets.contains(s)) s = fresh()
          sets += s; out += s
        } else out += sets(rnd.nextInt(sets.size))
      }
    }
    out.toSeq
  }

  var svc: TimedService = _
  private var server: graft.GraftHttpServer = _
  private var base: String = _
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** dataset id per distinct column set, and of the training dataset */
  var datasetOf: Map[Seq[(String, Seq[String])], Int] = Map.empty
  var trainDataset: Int = -1

  private def call(method: String, path: String, body: String = "")
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, json.readTree(r.body))
  }

  private def encode(set: Seq[(String, Seq[String])]): String =
    set.map { case (t, cs) => s"$t:${cs.mkString(",")}" }.mkString("|")

  /** Start the server on an ephemeral port and register the training
    * dataset and one dataset per distinct column set, over HTTP. */
  def setUp(trace: Trace, store: String): Unit = {
    svc = new TimedService(store, trace)
    server = new graft.GraftHttpServer(svc, spark)
    base = s"http://127.0.0.1:${server.start(0)}/v1.0/"
    def register(name: String, tables: String): Int = {
      val (code, b) = call("POST", "dataset",
        json.writeValueAsString(Map("name" -> name, "dir" -> dir,
          "tables" -> tables).asJava))
      require(code == 200, s"dataset registration returned $code: $b")
      b.get("id").asInt
    }
    trainDataset = register("train", "")
    datasetOf = sequence.distinct.zipWithIndex.map { case (s, i) =>
      s -> register(s"set$i", encode(s))
    }.toMap
  }

  /** Predict once, directly through the service, on a one-table set
    * that no two-table sequence set equals, then drop cached frames. */
  def warmUpPredict(model: Int): Unit = {
    val ds = svc.createDataset("warm-up", dir, Seq("region" -> Seq("r_name")))
    svc.predictModel(spark(), model, ds.id).columnPredictions.collect()
    graft.core.Caches.release(spark())
  }

  def tearDown(): Unit = if (server != null) { server.stop(); server = null }

  /** POST train, then poll the model until it leaves Busy. Returns
    * (model id, final state, seconds). */
  def train(): (Int, String, Double) = {
    val (c, m) = call("POST", "model", """{"description":"perfbench"}""")
    require(c == 200, s"model create returned $c")
    val id = m.get("id").asInt
    val t0 = System.nanoTime()
    val (tc, _) = call("POST", s"model/$id/train?dataset=$trainDataset")
    require(tc == 202, s"train returned $tc")
    var state = "Busy"
    while (state == "Busy") {
      Thread.sleep(20)
      state = call("GET", s"model/$id")._2.get("state").asText
    }
    (id, state, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop: `clients` threads each send their next request when
    * the previous one returns. A client stops once `seconds` have passed
    * and it has sent at least [[MinPerClient]] requests. */
  def loop(model: Int, clients: Int, seconds: Double): Seq[Req] = {
    val next = new AtomicInteger
    val done = new ConcurrentLinkedQueue[Req]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        var sent = 0
        var i = next.getAndIncrement()
        while ((sent < MinPerClient || System.nanoTime() < deadline) &&
            i < sequence.size) {
          sent += 1
          val ds = datasetOf(sequence(i))
          val t0 = System.nanoTime()
          val (code, body) =
            try call("POST", s"model/$model/predict?dataset=$ds")
            catch { case e: Exception =>
              System.err.println(s"perfbench: predict $i: $e"); (-1, null) }
          val labels =
            if (code != 200 || body == null) Map.empty[String, String]
            else body.get("predictions").elements().asScala
              .map(p => p.get("col").asText -> p.get("label").asText).toMap
          done.add(Req(i, t0, System.nanoTime(), code, labels))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.asScala.toSeq.sortBy(_.i)
  }
}

object OctopusLoad {
  val PoolTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")
  val MaxRequests = 64
  val Clients = 2
  val MinPerClient = 1

  /** (sequence index, send ns, receive ns, HTTP status, col -> label) */
  final case class Req(i: Int, sent: Long, recv: Long, status: Int,
      labels: Map[String, String])

  /** Labelled class of each `table.column` the engine knows. */
  val truth: Map[String, String] = (Labels.train ++ Labels.holdout)
    .map { case (t, c, l) => s"$t.$c" -> l }.toMap

  /** Server-side queueing: the part of each request's send-to-service
    * interval during which the single handler was serving another
    * request. `reqs` and `svc` are matched by dataset and time. */
  def queueAndService(reqs: Seq[(Int, Long, Long)], svc: Seq[(Int, Long, Long)])
      : (Double, Double) = {
    val pending = collection.mutable.ArrayBuffer.from(svc.sortBy(_._2))
    val matched = reqs.map { case (ds, s, r) =>
      val k = pending.indexWhere { case (d, a, _) => d == ds && a >= s && a <= r }
      if (k < 0) (s, r, None) else {
        val m = pending.remove(k); (s, r, Some((m._2, m._3)))
      }
    }
    var queue = 0L
    var service = 0L
    matched.zipWithIndex.foreach { case ((s, r, m), i) =>
      m.foreach { case (a, b) =>
        service += b - a
        matched.zipWithIndex.foreach { case ((_, r2, m2), j) =>
          if (j != i) m2.foreach { case (a2, _) =>
            val lo = math.max(s, a2); val hi = math.min(a, r2)
            if (hi > lo) queue += hi - lo
          }
        }
      }
    }
    (queue / 1e9, service / 1e9)
  }

  /** Octopus.predict and Octopus.train, replayed serially through the
    * public layer calls so each layer runs in its own span. Pieces are
    * computed once (local checkpoints) inside their span and then
    * consumed, in the same composition as `FeatureMatrix.features`. */
  final class Replay(spark: SparkSession, dir: String, trace: Trace) {
    private val cfg = FeaturesConfig.Default
    import spark.implicits._

    def features(tables: Seq[(String, Seq[String])]): DataFrame = {
      val m = trace.span("matcher") {
        Tables.rebalance(FeatureMatrix.sampledMelt(spark, dir, tables))
      }
      val prof = trace.span("profile") {
        ColumnProfiler.profileWithShares(m).localCheckpoint()
      }
      val hots = trace.span("profile") {
        ColumnProfiler.inferredTypeOneHots(m).drop("inferred_type")
          .localCheckpoint()
      }
      trace.span("matcher") {
        val colsDf = tables.flatMap { case (t, cs) => cs.map(c => s"$t.$c") }
          .toDF("col_name")
        val pool = Labels.train.map { case (t, c, l) => (s"$t.$c", l) }
          .toDF("col_name", "label")
        val nf = ExampleFeatures.knn(colsDf, pool, cfg.knnNeighbours,
            Labels.classes)
          .join(ExampleFeatures.minClassDistance(colsDf, pool, Labels.classes),
            "query_col")
        prof.join(hots, Seq("col_name"))
          .join(nf, col("col_name") === nf("query_col"))
          .select(col("col_name") +: cfg.featureCols.map(c =>
            coalesce(col(c).cast("double"), lit(-1.0)).as(c)): _*)
          .localCheckpoint()
      }
    }

    def train(): (org.apache.spark.ml.PipelineModel, AlignmentGraph) = {
      val feat = features(Labels.trainTables)
      val model = trace.span("matcher") {
        SemanticTypeClassifier.train(
          feat.join(Labels.train.map { case (t, c, l) => (s"$t.$c", l) }
            .toDF("col_name", "label"), "col_name"), cfg)
      }
      val align = trace.span("modeler")(new AlignmentGraph(Ontology.tpch))
      (model, align)
    }

    /** col -> predicted label, plus the number of suggestions. */
    def predict(model: org.apache.spark.ml.PipelineModel,
        align: AlignmentGraph, tables: Seq[(String, Seq[String])])
        : (Map[String, String], Int) = {
      val feat = features(tables)
      val preds = trace.span("matcher") {
        SemanticTypeClassifier.predict(model, feat).collect().map { r =>
          r.getString(0) -> SemanticModeler.ColumnPrediction(
            r.getString(1), r.getDouble(2),
            r.getMap[String, Double](r.fieldIndex("scores")).toMap)
        }.toMap
      }
      val sugs = trace.span("modeler") {
        val ontology = Ontology.tpch
        val filtered = SemanticModeler.filterPredictions(preds,
          SemanticModeler.UnknownThreshold)
        val cands = tables.flatMap { case (t, cs) => cs.map(c => s"$t.$c") }
          .flatMap { c =>
            (preds.get(c), filtered.get(c)) match {
              case (Some(_), None) => None
              case (_, fp) =>
                val learned = fp.map(p => SemanticModeler.learnedCandidates(
                  p.scores, ontology, Map.empty)).getOrElse(Nil)
                Some(c -> SemanticModeler.mergeCandidates(learned,
                  SemanticModeler.nameCandidates(c, ontology)))
            }
          }
        SemanticModeler.suggest(align, cands)
      }
      (preds.map { case (c, p) => c -> p.label }, sugs.size)
    }
  }
}
