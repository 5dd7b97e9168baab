package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

import graft.modeler.{Ontology, SemanticModel}

/** Dataset registration record: where the parquet tables live and which
  * (table, columns) the dataset exposes. */
final case class DatasetRef(
    id: Int, name: String, dir: String,
    tables: Seq[(String, Seq[String])], created: Long)

/** Model registration record; `state` mirrors the Octopus train state.
  * `owlId`, when set, names the stored ontology ([[OwlRef]]) the model's
  * octopus aligns against — the reference's octopus carries its
  * ontology list the same way (storage/OctopusStorage; an octopus
  * `refers` to its owls, OwlInterface.dependents:52-57). Absent =
  * the service's constructor-default ontology. */
final case class ModelRef(id: Int, description: String, state: String,
    created: Long, owlId: Option[Int] = None)

/** Stored-ontology record (reference types SsdTypes.scala:128-140 `Owl`
  * + storage/OwlStorage.scala): metadata beside the uploaded document.
  * `format` is the reference's OwlDocumentFormat wire value — "ttl"
  * (Turtle) or "xml" (RDF/XML), the two syntaxes
  * [[graft.modeler.Ontology]] parses. */
final case class OwlRef(id: Int, name: String, description: String,
    format: String, created: Long)

/** Stored semantic-source-description record (reference
  * types/SsdTypes.scala:318-356 `Ssd` + storage/SsdStorage.scala):
  * attribute derivations plus the attribute -> "Class.property"
  * mappings into the referenced ontologies. */
final case class SsdRef(id: Int, name: String, ontologies: Seq[Int],
    attributes: Seq[SsdAttribute], mappings: Map[String, String],
    created: Long) {
  def ssd: Ssd = Ssd(id, name, attributes, ontologies)
}

/** Thin orchestration layer over the engine — capability parity with the
  * reference's user-facing surface (reference core Serene.scala:49-56
  * boots Finch endpoints; api/ModelAPI.scala:153-193 exposes
  * create/list/get/train/predict/delete; storage/Storage.scala:1-271 is
  * the id-keyed file-backed store). Each REST endpoint maps 1:1 to a
  * method here, to a [[graft.Cli]] command, and to a
  * [[graft.GraftHttpServer]] HTTP route (JDK httpserver — no server
  * dependency in the build); the transports are thin, this service is
  * the product.
  *
  * Layout: rootDir/datasets/<id>/meta.json,
  * rootDir/models/<id>/{meta.json, pipeline/, alignment.json} — trained
  * artifacts live next to the model metadata exactly like the
  * reference's ModelStorage keeps the serialized learnt model beside
  * the model JSON. */
class GraftService(val rootDir: String,
    ontology: Ontology = Ontology.tpch,
    knownModels: Seq[SemanticModel] = Nil,
    /** Matcher label -> ontology (class, property), forwarded to every
      * octopus this service owns (the reference's semanticTypeMap —
      * lets predict inject classifier-learned types as modeler
      * candidates; empty = name-based candidates only). */
    semanticTypeMap: Map[String, (String, String)] = Map.empty) {

  private def dsDir(id: Int): Path = Paths.get(rootDir, "datasets", id.toString)
  private def mdDir(id: Int): Path = Paths.get(rootDir, "models", id.toString)
  private def owlDir(id: Int): Path = Paths.get(rootDir, "owls", id.toString)
  private def ssdDir(id: Int): Path = Paths.get(rootDir, "ssds", id.toString)
  private val octopi = collection.concurrent.TrieMap.empty[Int, Octopus]

  /** Trains and predicts in flight in this service, guarded by
    * [[unitLock]]. The last unit to end calls [[Caches.release]] while
    * holding the lock, so no unit can start while its pipeline-stage
    * caches are being swept. */
  private var inFlight = 0
  private val unitLock = new Object

  private def beginUnit(): Unit = unitLock.synchronized { inFlight += 1 }
  private def endUnit(spark: SparkSession): Unit = unitLock.synchronized {
    inFlight -= 1
    if (inFlight == 0) Caches.release(spark)
  }
  private def unitOfWork[A](spark: SparkSession)(body: => A): A = {
    beginUnit()
    try body finally endUnit(spark)
  }

  // ---- tiny JSON helpers (flat string-field objects only) -------------
  private def writeMeta(p: Path, fields: (String, String)*): Unit = {
    Files.createDirectories(p)
    // written aside, then renamed over: a concurrent reader (a GET
    // polling a training model's state) must never see a truncated file
    val tmp = Files.createTempFile(p, "meta", ".tmp")
    Files.writeString(tmp,
      fields.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n"))
    Files.move(tmp, p.resolve("meta.json"), StandardCopyOption.ATOMIC_MOVE)
  }
  private def readMeta(p: Path): Map[String, String] = {
    // keys are writer-controlled identifiers; values are full JSON string
    // bodies (escaped quotes/backslashes included), unescaped in a single
    // pass — see Json.unescape for why sequential replace is wrong
    val re = """"(\w+)":\s*"((?:[^"\\]|\\.)*)"""".r
    re.findAllMatchIn(Files.readString(p.resolve("meta.json")))
      .map(m => m.group(1) -> Json.unescape(m.group(2)))
      .toMap
  }
  private def keysUnder(kind: String): Seq[Int] = {
    val p = Paths.get(rootDir, kind)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .flatMap(f => f.getFileName.toString.toIntOption).toSeq.sorted
      } finally s.close()
    }
  }
  /** Ids are allocated from a persisted monotonic counter (next_id file)
    * rather than max(existing)+1, so deleting the newest entity never
    * recycles its id — stale external references can't silently bind to
    * a later, unrelated entity. Floor at max(existing)+1 covers stores
    * written before the counter existed. */
  private def nextId(kind: String): Int = synchronized {
    val dir = Paths.get(rootDir, kind)
    Files.createDirectories(dir)
    val counterFile = dir.resolve("next_id")
    val stored =
      if (Files.exists(counterFile))
        Files.readString(counterFile).trim.toIntOption.getOrElse(1)
      else 1
    val id = math.max(stored, (keysUnder(kind) :+ 0).max + 1)
    Files.writeString(counterFile, (id + 1).toString)
    id
  }
  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  // ---- dataset CRUD (reference api/DatasetAPI + DatasetStorage) -------
  def createDataset(name: String, dir: String,
      tables: Seq[(String, Seq[String])]): DatasetRef = {
    val id = nextId("datasets")
    val ref = DatasetRef(id, name, dir, tables, System.currentTimeMillis())
    writeMeta(dsDir(id), "name" -> name, "dir" -> dir,
      "tables" -> Specs.renderTables(tables), "created" -> ref.created.toString)
    ref
  }
  def datasetKeys: Seq[Int] = keysUnder("datasets")
  def getDataset(id: Int): Option[DatasetRef] =
    if (!Files.exists(dsDir(id).resolve("meta.json"))) None
    else {
      val m = readMeta(dsDir(id))
      Some(DatasetRef(id, m("name"), m("dir"), Specs.tables(m("tables")),
        m("created").toLong))
    }
  def deleteDataset(id: Int): Boolean = {
    val existed = Files.exists(dsDir(id))
    deleteRecursively(dsDir(id)); existed
  }

  // ---- owl CRUD (reference api/OwlAPI + storage/OwlStorage) -----------
  // The document is stored verbatim beside the metadata (the reference
  // keeps the uploaded file beside the Owl JSON the same way) and is
  // parse-VALIDATED on the way in: a document graft.modeler.Ontology
  // cannot read, or one with no classes, is the client's error (400),
  // caught at upload rather than surfacing as a train-time Error state.

  /** `format` -> document filename; also the wire-format gate. */
  private def owlDocName(format: String): String = format match {
    case "ttl" | "turtle" => "document.ttl"
    case "xml" | "rdfxml" => "document.xml"
    case other => throw new GraftService.ClientError(
      s"OWL format '$other' not supported (ttl | xml)")
  }
  private def validateOwlDocument(format: String, document: String): Unit = {
    val parsed =
      try {
        if (owlDocName(format) == "document.ttl")
          Ontology.parseTurtle(document)
        else Ontology.parseRdfXml(document)
      } catch { case e: Exception =>
        throw new GraftService.ClientError(
          s"OWL document does not parse as $format: ${e.getMessage}")
      }
    if (parsed.classes.isEmpty)
      throw new GraftService.ClientError(
        "OWL document declares no classes")
  }

  // Store mutations that CROSS-REFERENCE other stores (owl <- ssd/model)
  // are serialized on the same monitor nextId uses: deleteOwl's
  // dependent scan and a concurrent createSsd/createModel referencing
  // the same owl would otherwise race check-then-act, leaving an SSD or
  // model pointing at a deleted ontology (octopus resolution then
  // throws -> 500). Document validation stays OUTSIDE the lock (it can
  // parse a large ontology); only the reference-check + write is atomic.
  def createOwl(name: String, description: String, format: String,
      document: String): OwlRef = {
    validateOwlDocument(format, document)
    val id = nextId("owls")
    val ref = OwlRef(id, name, description, format,
      System.currentTimeMillis())
    writeMeta(owlDir(id), "name" -> name, "description" -> description,
      "format" -> format, "created" -> ref.created.toString)
    Files.writeString(owlDir(id).resolve(owlDocName(format)), document)
    ref
  }
  def owlKeys: Seq[Int] = keysUnder("owls")
  def getOwl(id: Int): Option[OwlRef] =
    if (!Files.exists(owlDir(id).resolve("meta.json"))) None
    else {
      val m = readMeta(owlDir(id))
      Some(OwlRef(id, m("name"), m("description"), m("format"),
        m("created").toLong))
    }
  def getOwlDocument(id: Int): Option[String] =
    getOwl(id).map(ref =>
      Files.readString(owlDir(id).resolve(owlDocName(ref.format))))
  /** Update description and/or replace the document (reference
    * OwlAPI.updateOwl — both parts optional). */
  def updateOwl(id: Int, description: Option[String],
      document: Option[String]): OwlRef = synchronized {
    val ref = getOwl(id)
      .getOrElse(throw new NoSuchElementException(s"owl $id"))
    document.foreach { doc =>
      validateOwlDocument(ref.format, doc)
      Files.writeString(owlDir(id).resolve(owlDocName(ref.format)), doc)
    }
    val next = ref.copy(description = description.getOrElse(ref.description))
    writeMeta(owlDir(id), "name" -> next.name,
      "description" -> next.description, "format" -> next.format,
      "created" -> next.created.toString)
    // a replaced document must reach the next predict/train: drop any
    // cached octopus built on the old parse (same invalidation posture
    // as the reference's modified-date checkTraining)
    if (document.isDefined) {
      val stale = modelKeys.flatMap(getModel)
        .filter(_.owlId.contains(id)).map(_.id)
      stale.foreach(octopi.remove)
    }
    next
  }
  /** Refuses when the ontology is still referenced — the reference's
    * dependent check (OwlInterface.dependents:44-60: SSDs and octopi
    * that refer to the owl block deletion). */
  def deleteOwl(id: Int): Boolean = synchronized {
    val ssdRefs = ssdKeys.flatMap(getSsd).filter(_.ontologies.contains(id))
    val modelRefs = modelKeys.flatMap(getModel)
      .filter(_.owlId.contains(id))
    if (ssdRefs.nonEmpty || modelRefs.nonEmpty)
      throw new GraftService.ClientError(
        s"owl $id is referenced by " +
          (ssdRefs.map(s => s"ssd ${s.id}") ++
            modelRefs.map(m => s"model ${m.id}")).mkString(", "))
    val existed = Files.exists(owlDir(id))
    deleteRecursively(owlDir(id)); existed
  }

  // ---- ssd CRUD (reference api/SsdAPI + storage/SsdStorage) -----------
  // Mapping values are "Class.property" labels resolved against the
  // union of the referenced ontologies' data properties — the
  // reference's SsdInterface consistency check (mappings must land on
  // semantic-model nodes drawn from the ontologies); a dangling class
  // or property is the client's error.

  // meta encoding: attributes/mappings are packed with the two
  // information-separator control chars (record , field ),
  // which Json.str escapes to \\u001e/\\u001f — safe for ANY payload
  // text including '|', ':' and ',' inside attribute SQL
  private val Rs = '\u001e'; private val Fs = '\u001f'
  private def encodeAttrs(attrs: Seq[SsdAttribute]): String =
    attrs.map(a => s"${a.id}$Fs${a.name}$Fs${a.sql}").mkString(Rs.toString)
  private def decodeAttrs(s: String): Seq[SsdAttribute] =
    s.split(Rs).toSeq.filter(_.nonEmpty).map { r =>
      val Array(id, name, sql) = r.split(Fs.toString, 3)
      SsdAttribute(id.toInt, name, sql)
    }
  private def encodeMappings(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k$Fs$v" }.mkString(Rs.toString)
  private def decodeMappings(s: String): Map[String, String] =
    s.split(Rs).toSeq.filter(_.nonEmpty).map { r =>
      val Array(k, v) = r.split(Fs.toString, 2); k -> v
    }.toMap

  private def validateSsd(ontologies: Seq[Int],
      mappings: Map[String, String]): Unit = {
    val missing = ontologies.filterNot(o => getOwl(o).isDefined)
    if (missing.nonEmpty)
      throw new GraftService.ClientError(
        s"unknown ontologies: ${missing.mkString(", ")}")
    if (mappings.nonEmpty) {
      val onts = ontologies.flatMap(o => getOwlDocument(o))
        .map(Ontology.parse)
      val props: Set[String] = onts.flatMap(o =>
        o.dataProps.map(p => s"${p.domain}.${p.uri}")).toSet
      val dangling = mappings.values.filterNot(props.contains).toSeq.distinct
      if (dangling.nonEmpty)
        throw new GraftService.ClientError(
          "mappings name unknown Class.property targets: " +
            dangling.mkString(", "))
    }
  }

  def createSsd(name: String, ontologies: Seq[Int],
      attributes: Seq[SsdAttribute],
      mappings: Map[String, String]): SsdRef = synchronized {
    // validateSsd is INSIDE the lock here: its owl-existence check is
    // the half of the check-then-act a concurrent deleteOwl races
    validateSsd(ontologies, mappings)
    val id = nextId("ssds")
    val ref = SsdRef(id, name, ontologies, attributes, mappings,
      System.currentTimeMillis())
    writeMeta(ssdDir(id), "name" -> name,
      "ontologies" -> ontologies.mkString(","),
      "attributes" -> encodeAttrs(attributes),
      "mappings" -> encodeMappings(mappings),
      "created" -> ref.created.toString)
    ref
  }
  def ssdKeys: Seq[Int] = keysUnder("ssds")
  def getSsd(id: Int): Option[SsdRef] =
    if (!Files.exists(ssdDir(id).resolve("meta.json"))) None
    else {
      val m = readMeta(ssdDir(id))
      Some(SsdRef(id, m("name"),
        m("ontologies").split(",").toSeq.filter(_.nonEmpty).map(_.toInt),
        decodeAttrs(m("attributes")), decodeMappings(m("mappings")),
        m("created").toLong))
    }
  /** Store-level full replace of every field. Partial-update (merge)
    * semantics live one layer up, in the HTTP route: Server's POST
    * /ssd/:id fills omitted wire fields from the stored SSD before
    * calling here, mirroring the reference's per-field fallback
    * (SsdInterface.updateSsd:96-104). */
  def updateSsd(id: Int, name: String, ontologies: Seq[Int],
      attributes: Seq[SsdAttribute],
      mappings: Map[String, String]): SsdRef = synchronized {
    val old = getSsd(id)
      .getOrElse(throw new NoSuchElementException(s"ssd $id"))
    validateSsd(ontologies, mappings)
    val ref = SsdRef(id, name, ontologies, attributes, mappings, old.created)
    writeMeta(ssdDir(id), "name" -> name,
      "ontologies" -> ontologies.mkString(","),
      "attributes" -> encodeAttrs(attributes),
      "mappings" -> encodeMappings(mappings),
      "created" -> old.created.toString)
    ref
  }
  def deleteSsd(id: Int): Boolean = synchronized {
    val existed = Files.exists(ssdDir(id))
    deleteRecursively(ssdDir(id)); existed
  }

  // ---- model CRUD + train/predict (reference api/ModelAPI:153-193) ----
  def createModel(description: String,
      owlId: Option[Int] = None): ModelRef = synchronized {
    owlId.foreach(o => if (getOwl(o).isEmpty)
      throw new GraftService.ClientError(s"unknown owl $o"))
    val id = nextId("models")
    val ref = ModelRef(id, description, "Untrained",
      System.currentTimeMillis(), owlId)
    writeModelMeta(ref)
    ref
  }
  private def writeModelMeta(ref: ModelRef): Unit =
    writeMeta(mdDir(ref.id),
      (Seq("description" -> ref.description, "state" -> ref.state,
        "created" -> ref.created.toString) ++
        ref.owlId.map(o => "owl" -> o.toString)): _*)
  def modelKeys: Seq[Int] = keysUnder("models")
  def getModel(id: Int): Option[ModelRef] =
    if (!Files.exists(mdDir(id).resolve("meta.json"))) None
    else {
      val m = readMeta(mdDir(id))
      Some(ModelRef(id, m("description"), m("state"), m("created").toLong,
        m.get("owl").flatMap(_.toIntOption)))
    }
  // synchronized for UNIFORMITY with the cross-store protocol
  // (createModel/deleteSsd/deleteOwl): deleting a model cannot dangle
  // a reference today (nothing holds model ids), so the lock is not
  // load-bearing yet — but an unlocked mutation here would be the easy
  // thing to break the day model mutations gain owl references
  // (r14 ADVICE: document or close the asymmetry; closed).
  def deleteModel(id: Int): Boolean = synchronized {
    octopi.remove(id)
    val existed = Files.exists(mdDir(id))
    deleteRecursively(mdDir(id)); existed
  }

  private def octopus(id: Int): Octopus =
    octopi.getOrElseUpdate(id, {
      // the model's stored ontology wins over the constructor default —
      // the "upload OWL, then train an octopus against it" lifecycle
      // (reference OctopusInterface resolves its ontologies from
      // OwlStorage by id the same way)
      val ont = getModel(id).flatMap(_.owlId) match {
        case Some(oid) => Ontology.parse(getOwlDocument(oid).getOrElse(
          throw new NoSuchElementException(s"owl $oid")))
        case None => ontology
      }
      val o = new Octopus(ont, knownModels, mdDir(id).toString,
        semanticTypeMap = semanticTypeMap)
      // rehydrate a model trained by a previous service instance/JVM:
      // artifacts on disk + Complete in the store -> reload both legs
      if (getModel(id).exists(_.state == "Complete")) o.reload()
      o
    })

  /** Train model `modelId` on dataset `datasetId`; persists the state
    * transition like the reference's async train endpoint records
    * TrainState (ModelAPI modelTrain). Returns the final state. */
  def trainModel(spark: SparkSession, modelId: Int,
      datasetId: Int): Octopus.TrainState = {
    val ds = getDataset(datasetId)
      .getOrElse(throw new NoSuchElementException(s"dataset $datasetId"))
    val model = getModel(modelId)
      .getOrElse(throw new NoSuchElementException(s"model $modelId"))
    unitOfWork(spark) {
      val st = octopus(modelId).train(spark, ds.dir)
      writeModelMeta(model.copy(state = st.toString))
      st
    }
  }

  /** Launch training ASYNCHRONOUSLY — the reference's REST train
    * contract (reference core drivers/ModelInterface.scala:219-275:
    * set the stored state to BUSY, launch the training Future, return
    * immediately; clients poll the model resource for
    * Busy → Complete/Error). The Busy state is persisted BEFORE this
    * returns, so an HTTP poll issued mid-train reads Busy; the final
    * state is persisted by the background task. Missing model/dataset
    * throw (the 404 contract) before any state change. Idempotent
    * under concurrent calls: a train already in flight keeps ownership
    * of the state record (Octopus.train's state machine returns Busy
    * to the loser, which then skips the final write). */
  def trainModelAsync(spark: SparkSession, modelId: Int,
      datasetId: Int): Octopus.TrainState = {
    val ds = getDataset(datasetId)
      .getOrElse(throw new NoSuchElementException(s"dataset $datasetId"))
    val model = getModel(modelId)
      .getOrElse(throw new NoSuchElementException(s"model $modelId"))
    val oct = octopus(modelId)
    if (oct.trainState == Octopus.Busy) return Octopus.Busy
    writeModelMeta(model.copy(state = Octopus.Busy.toString))
    // counted before submit: the Octopus only flips to Busy once the
    // Future RUNS, and a predict ending in that window must not sweep
    // the starting train's caches
    beginUnit()
    scala.concurrent.Future {
      try {
        val st =
          try oct.train(spark, ds.dir)
          catch { case e: Exception =>
            Octopus.Error(String.valueOf(e.getMessage)) }
        // Busy = a concurrent train owns the record
        if (st != Octopus.Busy) writeModelMeta(model.copy(state = st.toString))
      } finally endUnit(spark)
    }(GraftService.dispatchEc)
    Octopus.Busy
  }

  /** Predict with model `modelId` over dataset `datasetId`'s registered
    * tables (ModelAPI modelPredict). A unit of work like a train: its
    * column predictions are a local frame, so reading them after the
    * cache release needs no job. */
  def predictModel(spark: SparkSession, modelId: Int,
      datasetId: Int): Octopus.OctopusPrediction = {
    val ds = getDataset(datasetId)
      .getOrElse(throw new NoSuchElementException(s"dataset $datasetId"))
    unitOfWork(spark)(octopus(modelId).predict(spark, ds.dir, ds.tables))
  }

  /** Ranked semantic-model suggestions for a dataset's columns through a
    * trained model (reference OctopusAPI suggestion fetch). */
  def suggestions(spark: SparkSession, modelId: Int, datasetId: Int)
      : Seq[graft.modeler.SemanticModeler.Suggestion] =
    predictModel(spark, modelId, datasetId).suggestions
}

object GraftService {
  /** A request the CLIENT got wrong (unsupported OWL format, document
    * that doesn't parse, dangling ontology/mapping reference, deleting
    * a still-referenced owl). The HTTP layer maps this — and ONLY
    * this — to 400; generic IllegalArgumentExceptions keep surfacing
    * as 500 so server faults can't masquerade as client errors. */
  final class ClientError(msg: String) extends RuntimeException(msg)

  /** Daemon dispatcher for async REST trains — deliberately SEPARATE
    * from [[Octopus.trainEc]]: the dispatching task blocks awaiting the
    * two leg futures, and parking it on the 2-thread leg pool would
    * serialize the legs it is waiting for. Cached pool: idle threads
    * die, concurrent trains of different models each get a dispatcher. */
  private[core] lazy val dispatchEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-train-dispatch")
        t.setDaemon(true)
        t
      }))
}
