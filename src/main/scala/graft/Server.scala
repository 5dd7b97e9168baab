package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.core.{GraftService, Json}

/** Minimal REST transport over [[graft.core.GraftService]] — the HTTP
  * surface the reference boots in core Serene.scala:49-56 (Finch
  * endpoints; api/DatasetAPI, api/ModelAPI.scala:153-193, api/OwlAPI,
  * api/SsdAPI), rebuilt on the JDK's built-in `com.sun.net.httpserver`
  * so the build takes no server dependency. One route group per
  * reference route group — dataset, model (covering the reference's
  * model+octopus pair: one entity here owns both the matcher and the
  * alignment leg), owl, ssd — same entity model as the CLI (every
  * route is also a `graft.Cli` command over the same store —
  * transports are thin, the service is the product):
  *
  *   GET    /v1.0/dataset                     list datasets
  *   POST   /v1.0/dataset                     {"name","dir","tables"} (tables = "t:c1,c2|t2:c3")
  *   GET    /v1.0/dataset/{id}
  *   DELETE /v1.0/dataset/{id}
  *   GET    /v1.0/model                       list models
  *   POST   /v1.0/model                       {"description"}
  *   GET    /v1.0/model/{id}                  (state mirrors Octopus TrainState)
  *   DELETE /v1.0/model/{id}
  *   POST   /v1.0/model/{id}/train?dataset={id}    async train: persists
  *            Busy, returns 202 {"state":"Busy"} immediately; poll
  *            GET /model/{id} for Busy -> Complete/Error (the
  *            reference's ModelInterface.scala:219-275 contract)
  *   POST   /v1.0/model/{id}/predict?dataset={id}  column predictions + ranked suggestions
  *   GET    /v1.0/owl                         list ontologies
  *   POST   /v1.0/owl                         {"name","format","document","description"?}
  *            (format = ttl | xml; the document text rides in the flat
  *            JSON body where the reference takes multipart file
  *            upload, OwlAPI.createOwl — same payload, simpler wire)
  *   GET    /v1.0/owl/{id}
  *   GET    /v1.0/owl/{id}/file               raw document (text/plain)
  *   POST   /v1.0/owl/{id}                    {"description"?,"document"?} update
  *   DELETE /v1.0/owl/{id}                    400 while SSDs/models reference it
  *   GET    /v1.0/ssd                         list SSDs
  *   POST   /v1.0/ssd                         {"name","ontologies":"1,2",
  *            "table","mappings":"col=Class.prop,..."} — attributes are
  *            auto-generated identity derivations over the mapped
  *            columns, the reference's own posture (SsdAPI SsdRequest
  *            "attributes ... automatically generated ... equal to the
  *            original columns"); mappings are validated against the
  *            referenced ontologies' data properties
  *   GET    /v1.0/ssd/{id}
  *   POST   /v1.0/ssd/{id}                    full-replace update (SsdAPI.ssdPatch)
  *   DELETE /v1.0/ssd/{id}
  *
  *   POST /v1.0/model also takes optional "owl": a stored ontology id
  *   the model's octopus aligns against (resolved at train; absent =
  *   service default) — the upload-OWL-then-train-octopus lifecycle.
  *
  * Handlers run concurrently on a fixed pool of daemon threads, one per
  * available processor (at least two, so a status GET is answered while
  * a predict runs); the pool is shut down by [[stop]]. Spark work reuses
  * one shared session (getOrCreate), matching the reference's single
  * embedded Spark context per server process; concurrent predicts of
  * one column set share its sample checkpoint through
  * [[graft.core.Materialize]]'s single-flight build.
  */
final class GraftHttpServer(svc: GraftService, spark: () => SparkSession) {

  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/v1.0/", handle _)
    pool = Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors), r => {
        val t = new Thread(r, "graft-http-handler")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = (body + "\n").getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, s"""{"error":${Json.str(msg)}}""")

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getQuery).flatMap(_.split("&").collectFirst {
      case kv if kv.startsWith(key + "=") => kv.substring(key.length + 1)
    })

  private def body(ex: HttpExchange): Map[String, String] =
    Json.parseFlat(new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8))

  private def datasetJson(d: graft.core.DatasetRef): String = {
    val tables = graft.core.Specs.renderTables(d.tables)
    s"""{"id":${d.id},"name":${Json.str(d.name)},"dir":${Json.str(d.dir)},"tables":${Json.str(tables)}}"""
  }

  private def modelJson(m: graft.core.ModelRef): String = {
    val owl = m.owlId.map(o => s""","owl":$o""").getOrElse("")
    s"""{"id":${m.id},"description":${Json.str(m.description)},"state":"${m.state}"$owl}"""
  }

  private def owlJson(o: graft.core.OwlRef): String =
    s"""{"id":${o.id},"name":${Json.str(o.name)},"format":"${o.format}","description":${Json.str(o.description)}}"""

  private def ssdJson(d: graft.core.SsdRef): String = {
    val mappings = d.mappings.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(",")
    val attrs = d.attributes.map(_.name).mkString(",")
    s"""{"id":${d.id},"name":${Json.str(d.name)},"ontologies":[${d.ontologies.mkString(",")}],"attributes":${Json.str(attrs)},"mappings":${Json.str(mappings)}}"""
  }

  /** The table an SSD's identity attributes were derived over —
    * recovered from the stored attribute SQL (`select \`c\` from t`),
    * since SsdRef persists attributes, not the wire-level table field.
    * Used only to re-derive attributes on a merge-update that changes
    * mappings but omits table. Empty when the SSD has no attributes. */
  private def ssdTable(d: graft.core.SsdRef): String =
    d.attributes.headOption.map { a =>
      a.sql.substring(a.sql.lastIndexOf(" from ") + 6)
    }.getOrElse("")

  /** Wire -> store decode for the SSD POST body (identity attributes
    * over the mapped columns, like the reference's SsdRequest.toSsd). */
  private def ssdParts(b: Map[String, String])
      : (Seq[Int], Seq[graft.core.SsdAttribute], Map[String, String]) = {
    val onts = b.getOrElse("ontologies", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toInt)
    val mappings = graft.core.Specs.mappings(b.getOrElse("mappings", ""))
    val table = b.getOrElse("table", "")
    val attrs = graft.core.Ssd
      .identity(0, table, mappings.keys.toSeq.sorted).attributes
    (onts, attrs, mappings)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/v1.0/")
      .split("/").toList.filter(_.nonEmpty)
    (ex.getRequestMethod, path) match {

      case ("GET", "dataset" :: Nil) =>
        respond(ex, 200, svc.datasetKeys.flatMap(svc.getDataset)
          .map(datasetJson).mkString("[", ",", "]"))
      case ("POST", "dataset" :: Nil) =>
        val b = body(ex)
        (b.get("name"), b.get("dir")) match {
          case (Some(name), Some(dir)) =>
            val tables = graft.core.Specs.tables(b.getOrElse("tables", ""))
            respond(ex, 200, datasetJson(svc.createDataset(name, dir, tables)))
          case _ => err(ex, 400, "body must carry name and dir")
        }
      case ("GET", "dataset" :: id :: Nil) =>
        svc.getDataset(id.toInt) match {
          case Some(d) => respond(ex, 200, datasetJson(d))
          case None => err(ex, 404, s"dataset $id not found")
        }
      case ("DELETE", "dataset" :: id :: Nil) =>
        respond(ex, 200, s"""{"deleted":${svc.deleteDataset(id.toInt)}}""")

      case ("GET", "model" :: Nil) =>
        respond(ex, 200, svc.modelKeys.flatMap(svc.getModel)
          .map(modelJson).mkString("[", ",", "]"))
      case ("POST", "model" :: Nil) =>
        val b = body(ex)
        b.get("description") match {
          case Some(d) => respond(ex, 200, modelJson(
            svc.createModel(d, b.get("owl").map(_.toInt))))
          case None => err(ex, 400, "body must carry description")
        }
      case ("GET", "model" :: id :: Nil) =>
        svc.getModel(id.toInt) match {
          case Some(m) => respond(ex, 200, modelJson(m))
          case None => err(ex, 404, s"model $id not found")
        }
      case ("DELETE", "model" :: id :: Nil) =>
        respond(ex, 200, s"""{"deleted":${svc.deleteModel(id.toInt)}}""")

      case ("POST", "model" :: id :: "train" :: Nil) =>
        queryParam(ex, "dataset") match {
          case Some(ds) =>
            // async, like the reference: Busy is persisted before this
            // returns; clients poll GET /model/{id} for the final state
            // ids parse before spark(), which boots the session lazily
            val (m, d) = (id.toInt, ds.toInt)
            val st = svc.trainModelAsync(spark(), m, d)
            respond(ex, 202, s"""{"state":"$st"}""")
          case None => err(ex, 400, "query param dataset required")
        }
      case ("POST", "model" :: id :: "predict" :: Nil) =>
        queryParam(ex, "dataset") match {
          case Some(ds) =>
            // the service releases pipeline caches when its last unit of
            // work ends; the rendered predictions are local rows
            val (m, d) = (id.toInt, ds.toInt)
            val pred = svc.predictModel(spark(), m, d)
            val cols = pred.columnJson.mkString("[", ",", "]")
            val sugs = pred.suggestionJson.mkString("[", ",", "]")
            respond(ex, 200, s"""{"predictions":$cols,"suggestions":$sugs}""")
          case None => err(ex, 400, "query param dataset required")
        }

      case ("GET", "owl" :: Nil) =>
        respond(ex, 200, svc.owlKeys.flatMap(svc.getOwl)
          .map(owlJson).mkString("[", ",", "]"))
      case ("POST", "owl" :: Nil) =>
        val b = body(ex)
        (b.get("name"), b.get("format"), b.get("document")) match {
          case (Some(n), Some(f), Some(doc)) if n.trim.nonEmpty =>
            respond(ex, 200, owlJson(
              svc.createOwl(n, b.getOrElse("description", ""), f, doc)))
          case _ =>
            err(ex, 400, "body must carry name, format and document")
        }
      case ("GET", "owl" :: id :: Nil) =>
        svc.getOwl(id.toInt) match {
          case Some(o) => respond(ex, 200, owlJson(o))
          case None => err(ex, 404, s"owl $id not found")
        }
      case ("GET", "owl" :: id :: "file" :: Nil) =>
        svc.getOwlDocument(id.toInt) match {
          case Some(doc) =>
            val bytes = doc.getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type", "text/plain")
            ex.sendResponseHeaders(200, bytes.length)
            val os = ex.getResponseBody
            try os.write(bytes) finally os.close()
          case None => err(ex, 404, s"owl $id not found")
        }
      case ("POST", "owl" :: id :: Nil) =>
        val b = body(ex)
        respond(ex, 200, owlJson(
          svc.updateOwl(id.toInt, b.get("description"), b.get("document"))))
      case ("DELETE", "owl" :: id :: Nil) =>
        respond(ex, 200, s"""{"deleted":${svc.deleteOwl(id.toInt)}}""")

      case ("GET", "ssd" :: Nil) =>
        respond(ex, 200, svc.ssdKeys.flatMap(svc.getSsd)
          .map(ssdJson).mkString("[", ",", "]"))
      case ("POST", "ssd" :: Nil) =>
        val b = body(ex)
        b.get("name") match {
          case Some(n) if n.trim.nonEmpty =>
            val (onts, attrs, mappings) = ssdParts(b)
            respond(ex, 200,
              ssdJson(svc.createSsd(n, onts, attrs, mappings)))
          case _ => err(ex, 400, "body must carry name")
        }
      case ("GET", "ssd" :: id :: Nil) =>
        svc.getSsd(id.toInt) match {
          case Some(d) => respond(ex, 200, ssdJson(d))
          case None => err(ex, 404, s"ssd $id not found")
        }
      case ("POST", "ssd" :: id :: Nil) =>
        // existence FIRST: a malformed body on a nonexistent resource
        // must 404, not 400 (and the 404 must not depend on parsing)
        val cur = svc.getSsd(id.toInt)
          .getOrElse(throw new NoSuchElementException(s"ssd $id"))
        val b = body(ex)
        // MERGE-update, mirroring the reference (SsdInterface
        // .updateSsd:96-104 falls back per-field to the stored SSD):
        // every omitted wire field keeps its current value, so a
        // partial body can never silently wipe ontologies/mappings —
        // the previous full-replace guard required name/table/mappings
        // but not ontologies, which made exactly that wipe possible
        val merged = Map(
          "name" -> cur.name,
          "ontologies" -> cur.ontologies.mkString(","),
          "table" -> ssdTable(cur),
          "mappings" -> cur.mappings.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(",")) ++ b
        if (merged("name").trim.isEmpty)
          err(ex, 400, "ssd name must be non-empty")
        else {
          val (onts, attrs, mappings) = ssdParts(merged)
          respond(ex, 200, ssdJson(svc.updateSsd(id.toInt,
            merged("name"), onts, attrs, mappings)))
        }
      case ("DELETE", "ssd" :: id :: Nil) =>
        respond(ex, 200, s"""{"deleted":${svc.deleteSsd(id.toInt)}}""")

      case _ => err(ex, 404, "no such route")
    }
  } catch {
    case _: NumberFormatException => err(ex, 400, "ids must be integers")
    // malformed request bodies are the CLIENT's error: 400 with the
    // parse diagnostic, never a 500. ONLY the dedicated body-parser
    // type — a server-internal require()/Spark IllegalArgumentException
    // must keep surfacing as 500, not masquerade as a client error
    case e: Json.Malformed => err(ex, 400, String.valueOf(e.getMessage))
    // service-side request validation (bad OWL format/document, dangling
    // ontology reference, deleting a referenced owl): client's error
    case e: GraftService.ClientError =>
      err(ex, 400, String.valueOf(e.getMessage))
    // resource exists but is not in a state for the request (predict
    // before/while training): the client's conflict, not a server fault
    case e: IllegalStateException => err(ex, 409, String.valueOf(e.getMessage))
    case e: NoSuchElementException => err(ex, 404, e.getMessage)
    case e: Exception => err(ex, 500, String.valueOf(e.getMessage))
  }
}

/** Boot the REST server: `runMain graft.Server <storeRoot> [port]`. */
object Server {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse {
      System.err.println("usage: graft.Server <storeRoot> [port]")
      sys.exit(2)
    }
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    lazy val spark = LocalSpark.session()
    val bound = new GraftHttpServer(new GraftService(root), () => spark)
      .start(port)
    println(s"""{"listening":$bound,"store":${Json.str(root)}}""")
    Thread.currentThread.join()
  }
}
