package graft.core

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.{GraftHttpServer, SparkSpec}
import graft.matcher.Labels
import graft.modeler.ModelerQueries

/** REST transport parity: the full reference endpoint lifecycle —
  * register datasets, create model, train, predict, CRUD — driven over
  * real HTTP against the JDK-httpserver transport on an ephemeral port.
  * The handlers are thin (every route delegates to GraftService, itself
  * covered by GraftServiceSpec); this spec pins the wire contract. */
class ServerSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val client = HttpClient.newHttpClient()

  private def get(base: String, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body().trim)
  }
  private def post(base: String, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body().trim)
  }
  private def delete(base: String, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body().trim)
  }

  test("dataset/model lifecycle over HTTP: CRUD, train, predict") {
    val root = tempDir("graft-http").toString
    val svc = new GraftService(root,
      knownModels = Seq(ModelerQueries.knownOrderModel))
    val server = new GraftHttpServer(svc, () => spark)
    val port = server.start()
    val base = s"http://127.0.0.1:$port"
    try {
      assert(get(base, "/v1.0/dataset") === (200, "[]"))

      val trainTables = Labels.trainTables
        .map { case (t, cs) => s"$t:${cs.mkString(",")}" }.mkString("|")
      val holdTables = Labels.holdoutTables
        .map { case (t, cs) => s"$t:${cs.mkString(",")}" }.mkString("|")
      val (c1, b1) = post(base, "/v1.0/dataset",
        s"""{"name":"train","dir":"$sf","tables":"$trainTables"}""")
      assert(c1 === 200 && b1.contains("\"name\":\"train\""), b1)
      val trainId = Json.parseFlat(b1.replaceAll(""""id":(\d+)""",
        """"id":"$1"""")).apply("id")
      val (c2, b2) = post(base, "/v1.0/dataset",
        s"""{"name":"holdout","dir":"$sf","tables":"$holdTables"}""")
      assert(c2 === 200, b2)
      val holdId = Json.parseFlat(b2.replaceAll(""""id":(\d+)""",
        """"id":"$1"""")).apply("id")

      // escaping survives the wire: a name with a quote and backslash
      val (cq, bq) = post(base, "/v1.0/dataset",
        """{"name":"we\"ird\\path","dir":"/tmp/x","tables":""}""")
      assert(cq === 200 && bq.contains("""we\"ird\\path"""), bq)

      val (cm, bm) = post(base, "/v1.0/model",
        """{"description":"semantic-typer"}""")
      assert(cm === 200 && bm.contains("\"state\":\"Untrained\""), bm)
      val modelId = Json.parseFlat(bm.replaceAll(""""id":(\d+)""",
        """"id":"$1"""")).apply("id")

      // predict BEFORE training: a client-state conflict (409), never a
      // 500 server fault (Octopus throws IllegalStateException)
      val (cu, bu) = post(base,
        s"/v1.0/model/$modelId/predict?dataset=$holdId", "")
      assert(cu === 409 && bu.contains("not trained"), s"$cu $bu")

      // async train contract (reference ModelInterface.scala:219-275):
      // the POST returns 202 Busy IMMEDIATELY; a mid-train poll reads
      // Busy; a second POST while in flight is idempotent Busy; polling
      // converges to Complete
      val (ct, bt) = post(base,
        s"/v1.0/model/$modelId/train?dataset=$trainId", "")
      assert(ct === 202 && bt === """{"state":"Busy"}""", bt)
      val midPoll = get(base, s"/v1.0/model/$modelId")._2
      assert(midPoll.contains("\"state\":\"Busy\""),
        s"mid-train poll must read Busy, got $midPoll")
      val (ct2, bt2) = post(base,
        s"/v1.0/model/$modelId/train?dataset=$trainId", "")
      assert(ct2 === 202 && bt2 === """{"state":"Busy"}""", bt2)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var state = midPoll
      while (state.contains("\"state\":\"Busy\"") &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        state = get(base, s"/v1.0/model/$modelId")._2
      }
      assert(state.contains("\"state\":\"Complete\""),
        s"poll did not converge to Complete: $state")

      val (cp, bp) = post(base,
        s"/v1.0/model/$modelId/predict?dataset=$holdId", "")
      assert(cp === 200, bp)
      assert(bp.contains("\"predictions\":[") &&
        bp.contains("\"label\":") && bp.contains("\"suggestions\":["), bp)
      // the predict handler is a terminal unit of work: it must leave
      // NO persisted frames behind (Caches.release contract — without
      // it, BaggedPrediction's bagged melt survives every call and a
      // long-lived server accumulates cached frames until LRU churn)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"predict leaked persisted RDDs: ${spark.sparkContext
          .getPersistentRDDs.values.map(_.name).mkString(", ")}")
      // (bag-melt DISK scratch needs no assertion here: the server's
      // predict path uses the unbagged classifier — BaggedPrediction
      // is the m8 harness path, whose scratch dirs live under
      // Materialize's root, deleted at JVM exit)

      // error contract
      assert(get(base, "/v1.0/dataset/999")._1 === 404)
      assert(post(base, s"/v1.0/model/$modelId/train", "")._1 === 400)
      assert(get(base, "/v1.0/nope")._1 === 404)
      assert(delete(base, s"/v1.0/model/$modelId") ===
        (200, """{"deleted":true}"""))
      assert(get(base, s"/v1.0/model/$modelId")._1 === 404)
    } finally server.stop()
  }

  test("malformed request bodies get 400 with a parse diagnostic, never 500") {
    val root = tempDir("graft-http-bad").toString
    val server = new GraftHttpServer(new GraftService(root), () => spark)
    val port = server.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val bad = Seq(
        "nested object" -> """{"name":{"a":"b"},"dir":"/tmp"}""",
        "nested array" -> """{"name":["a"],"dir":"/tmp"}""",
        "truncated mid-string" -> """{"name":"x""",
        "truncated mid-escape" -> """{"name":"x\""",
        "truncated after colon" -> """{"name":""",
        "unterminated object" -> """{"name":"x","dir":"/tmp"""",
        "unknown escape" -> """{"name":"a\qb","dir":"/x"}""",
        // built by concat: Scala pre-processes \u even in triple quotes
        "bad unicode escape" -> ("""{"name":"""" + "\\" + """uZZZZ","dir":"/x"}"""),
        // Character.isDigit would accept these Arabic-Indic digits;
        // the parser must insist on ASCII hex
        "non-ascii digit unicode escape" ->
          ("""{"name":"""" + "\\" + "u١٢٣٤" + """","dir":"/x"}"""),
        "short unicode escape" -> ("""{"name":"""" + "\\" + "u12"),
        "trailing garbage" -> """{"name":"x","dir":"/y"} extra""",
        "not json at all" -> "hello",
        "unquoted key" -> """{name:"x","dir":"/y"}""",
        "bare scalar value" -> """{"name":nope}""",
        "missing colon" -> """{"name" "x"}""",
        "empty body" -> "")
      for ((label, body) <- bad) {
        val (code, resp) = post(base, "/v1.0/dataset", body)
        assert(code === 400, s"$label: expected 400, got $code ($resp)")
        assert(resp.contains("\"error\":"), s"$label: $resp")
      }
      // valid JSON, wrong shape: still the route's own 400, not a 500
      assert(post(base, "/v1.0/dataset", "{}")._1 === 400)
      assert(post(base, "/v1.0/dataset",
        """{"dir":"/tmp","other":1}""")._1 === 400)
      // valid scalars parse: numbers/bools/null tolerated, \u escapes ok
      val (okCode, okBody) = post(base, "/v1.0/dataset",
        """{"name":"Aok","n":1,"b":true,"x":null,"dir":"/tmp/ok","tables":""}""")
      assert(okCode === 200 && okBody.contains("\"name\":\"Aok\""), okBody)
    } finally server.stop()
  }

  test("owl/ssd lifecycle over HTTP: upload Turtle -> SSD mappings " +
      "validated against it -> owl-backed octopus trains and suggests " +
      "from the UPLOADED ontology (closes S11: the reference's first " +
      "user workflow, Serene.scala:49-56 OwlAPI/SsdAPI)") {
    import graft.modeler.Ontology
    val root = tempDir("graft-http-owl").toString
    // the service default ontology is EMPTY on purpose: any ontology
    // vocabulary that shows up in suggestions can then only have come
    // from the uploaded owl document, proving the octopus resolved the
    // model's owlId from the store rather than the constructor default
    val svc = new GraftService(root,
      ontology = Ontology(Set.empty, Nil, Nil, Map.empty),
      knownModels = Seq(ModelerQueries.knownOrderModel),
      semanticTypeMap = ModelerQueries.tpchTypeMap)
    val server = new GraftHttpServer(svc, () => spark)
    val port = server.start()
    val base = s"http://127.0.0.1:$port"
    try {
      assert(get(base, "/v1.0/owl") === (200, "[]"))
      assert(get(base, "/v1.0/ssd") === (200, "[]"))

      // upload rejects garbage at the door (reference BadRequest on
      // unsupported format; our parse validation extends it to the body)
      assert(post(base, "/v1.0/owl",
        s"""{"name":"x","format":"jsonld","document":"irrelevant"}""")._1
        === 400)
      assert(post(base, "/v1.0/owl",
        s"""{"name":"x","format":"ttl","document":"no classes here"}""")._1
        === 400)

      val doc = Json.str(Ontology.tpchTurtle)
      val (co, bo) = post(base, "/v1.0/owl",
        s"""{"name":"tpch.ttl","format":"ttl","description":"d","document":$doc}""")
      assert(co === 200 && bo.contains("\"name\":\"tpch.ttl\""), bo)
      val owlId = Json.parseFlat(bo.replaceAll(""""id":(\d+)""",
        """"id":"$1"""")).apply("id")

      // the document round-trips byte-identical through GET /file
      val (cf, bf) = get(base, s"/v1.0/owl/$owlId/file")
      assert(cf === 200 && bf === Ontology.tpchTurtle.trim, bf.take(120))

      // ssd: mappings must resolve in the uploaded ontology
      assert(post(base, "/v1.0/ssd",
        s"""{"name":"bad","ontologies":"$owlId","table":"orders","mappings":"o_x=Nope.nope"}""")._1
        === 400)
      val (cs, bs) = post(base, "/v1.0/ssd",
        s"""{"name":"orders-ssd","ontologies":"$owlId","table":"orders","mappings":"o_orderdate=Order.orderdate,o_totalprice=Order.totalprice"}""")
      assert(cs === 200 && bs.contains("\"ontologies\":[" + owlId + "]"), bs)
      // ssdJson carries an array field, so parseFlat (flat-contract
      // parser) can't read it — lift the id by regex
      val ssdId = """"id":(\d+)""".r.findFirstMatchIn(bs).get.group(1)
      assert(get(base, s"/v1.0/ssd/$ssdId")._2
        .contains("o_orderdate=Order.orderdate"))

      // MERGE-update (reference SsdInterface.updateSsd:96-104 falls
      // back per-field to the stored SSD): a name-only body renames
      // and keeps ontologies + mappings — the r14 ADVICE silent-wipe
      // (body omitting 'ontologies' clearing the ontology list) is
      // exactly what this asserts can no longer happen
      val (cu1, bu1) = post(base, s"/v1.0/ssd/$ssdId",
        """{"name":"orders-ssd-v2"}""")
      assert(cu1 === 200, bu1)
      assert(bu1.contains("\"name\":\"orders-ssd-v2\"") &&
        bu1.contains("\"ontologies\":[" + owlId + "]") &&
        bu1.contains("o_orderdate=Order.orderdate") &&
        bu1.contains("o_totalprice=Order.totalprice"), bu1)
      // a mappings-only body re-derives attributes over the SAME
      // stored table and keeps name/ontologies
      val (cu2, bu2) = post(base, s"/v1.0/ssd/$ssdId",
        """{"mappings":"o_orderdate=Order.orderdate"}""")
      assert(cu2 === 200, bu2)
      assert(bu2.contains("\"name\":\"orders-ssd-v2\"") &&
        bu2.contains("\"ontologies\":[" + owlId + "]") &&
        bu2.contains("\"attributes\":\"o_orderdate\"") &&
        !bu2.contains("o_totalprice"), bu2)
      // validation still applies on the merged request; a rejected
      // update leaves the resource untouched
      assert(post(base, s"/v1.0/ssd/$ssdId",
        """{"mappings":"o_x=Nope.nope"}""")._1 === 400)
      assert(get(base, s"/v1.0/ssd/$ssdId")._2
        .contains("o_orderdate=Order.orderdate"))
      // nonexistent resource: 404 before body semantics
      assert(post(base, "/v1.0/ssd/99999",
        """{"name":"x"}""")._1 === 404)

      // deleting the referenced owl is the client's error (400), like
      // the reference's dependent check
      assert(delete(base, s"/v1.0/owl/$owlId")._1 === 400)

      // model bound to the uploaded owl; train; predict
      val (cm, bm) = post(base, "/v1.0/model",
        s"""{"description":"owl-backed","owl":$owlId}""")
      assert(cm === 200 && bm.contains(s""""owl":$owlId"""), bm)
      val modelId = Json.parseFlat(bm.replaceAll(""""id":(\d+)""",
        """"id":"$1"""")).apply("id")
      val trainTables = Labels.trainTables
        .map { case (t, cs2) => s"$t:${cs2.mkString(",")}" }.mkString("|")
      val holdTables = Labels.holdoutTables
        .map { case (t, cs2) => s"$t:${cs2.mkString(",")}" }.mkString("|")
      val trainId = Json.parseFlat(post(base, "/v1.0/dataset",
        s"""{"name":"train","dir":"$sf","tables":"$trainTables"}""")._2
        .replaceAll(""""id":(\d+)""", """"id":"$1"""")).apply("id")
      val holdId = Json.parseFlat(post(base, "/v1.0/dataset",
        s"""{"name":"holdout","dir":"$sf","tables":"$holdTables"}""")._2
        .replaceAll(""""id":(\d+)""", """"id":"$1"""")).apply("id")
      val (ct, bt) = post(base,
        s"/v1.0/model/$modelId/train?dataset=$trainId", "")
      assert(ct === 202, bt)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var state = get(base, s"/v1.0/model/$modelId")._2
      while (state.contains("\"state\":\"Busy\"") &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        state = get(base, s"/v1.0/model/$modelId")._2
      }
      assert(state.contains("\"state\":\"Complete\""), state)

      val (cp, bp) = post(base,
        s"/v1.0/model/$modelId/predict?dataset=$holdId", "")
      assert(cp === 200, bp.take(300))
      assert(bp.contains("\"suggestions\":[{"), "suggestions must be " +
        s"non-empty — the empty default ontology yields none: ${bp.take(300)}")
      // the proof: a tpch DATA PROPERTY in a suggested triple can only
      // come from the uploaded document (known model carries only
      // class-to-class links; the service default ontology is empty)
      val dataProps = Ontology.tpch.dataProps.map(_.uri).toSet
      val propRe = """\["[^"]+","([^"]+)","[^"]+"\]""".r
      val suggested = propRe.findAllMatchIn(
        bp.substring(bp.indexOf("\"suggestions\":"))).map(_.group(1)).toSet
      assert(suggested.exists(dataProps.contains),
        s"no uploaded-ontology data property in suggestions: $suggested")

      // teardown order honors the dependency graph
      assert(delete(base, s"/v1.0/model/$modelId")._1 === 200)
      assert(delete(base, s"/v1.0/ssd/$ssdId") ===
        (200, """{"deleted":true}"""))
      assert(delete(base, s"/v1.0/owl/$owlId") ===
        (200, """{"deleted":true}"""))
      assert(get(base, s"/v1.0/owl/$owlId")._1 === 404)
    } finally server.stop()
  }

  test("concurrent predicts of one fresh column set: byte-identical " +
      "bodies, one sample build, no cached frames left; a GET is " +
      "answered while a predict is held") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.SparkSession
    val root = tempDir("graft-http-conc").toString
    val entered, release = new CountDownLatch(1)
    @volatile var hold = false
    // holds a predict inside the service until the test lets it go, so
    // "answered while a predict runs" does not depend on timing
    val svc = new GraftService(root,
      knownModels = Seq(ModelerQueries.knownOrderModel)) {
      override def predictModel(s: SparkSession, modelId: Int,
          datasetId: Int): Octopus.OctopusPrediction = {
        if (hold) { entered.countDown(); release.await(120, TimeUnit.SECONDS) }
        super.predictModel(s, modelId, datasetId)
      }
    }
    val server = new GraftHttpServer(svc, () => spark)
    val base = s"http://127.0.0.1:${server.start()}"
    def idOf(body: String): String = """"id":(\d+)""".r
      .findFirstMatchIn(body).get.group(1)
    def predictAsync(model: String, ds: String) = client.sendAsync(
      HttpRequest.newBuilder(
        URI.create(s"$base/v1.0/model/$model/predict?dataset=$ds"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val trainTables = Labels.trainTables
        .map { case (t, cs) => s"$t:${cs.mkString(",")}" }.mkString("|")
      val trainId = idOf(post(base, "/v1.0/dataset",
        s"""{"name":"train","dir":"$sf","tables":"$trainTables"}""")._2)
      // a column set no other spec asks for, so its sample is unbuilt
      val fresh = "nation:n_name,n_regionkey|part:p_brand,p_size"
      val meltKey = s"melt|$sf|nation:n_name,n_regionkey;part:p_brand,p_size"
      assert(!Materialize.buildSeconds.contains(meltKey))
      val freshId = idOf(post(base, "/v1.0/dataset",
        s"""{"name":"fresh","dir":"$sf","tables":"$fresh"}""")._2)
      val modelId = idOf(post(base, "/v1.0/model",
        """{"description":"concurrent"}""")._2)
      assert(post(base, s"/v1.0/model/$modelId/train?dataset=$trainId",
        "")._1 === 202)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var state = get(base, s"/v1.0/model/$modelId")._2
      while (state.contains("\"state\":\"Busy\"") &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        state = get(base, s"/v1.0/model/$modelId")._2
      }
      assert(state.contains("\"state\":\"Complete\""), state)

      val dirsBefore = new java.io.File(Materialize.root).list().toSet
      val concurrent = (1 to 4).map(_ => predictAsync(modelId, freshId))
        .map(_.get(180, TimeUnit.SECONDS))
      val (serialCode, serial) =
        post(base, s"/v1.0/model/$modelId/predict?dataset=$freshId", "")
      assert(serialCode === 200, serial)
      assert(serial.contains("\"col\":\"part.p_brand\""), serial)
      concurrent.foreach { r =>
        assert(r.statusCode === 200, r.body)
        assert(r.body.trim === serial, "a concurrent body differs from serial")
      }
      val built = new java.io.File(Materialize.root).list().toSet -- dirsBefore
      assert(built.size === 1 && Materialize.buildSeconds.contains(meltKey),
        s"expected one sample build for the fresh set, got $built")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "cached frames left after every call returned")

      hold = true
      val held = predictAsync(modelId, freshId)
      assert(entered.await(60, TimeUnit.SECONDS), "predict never started")
      val poll = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/v1.0/model/$modelId"))
          .timeout(java.time.Duration.ofSeconds(30)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(poll.statusCode === 200 &&
        poll.body.contains("\"state\":\"Complete\""), poll.body)
      assert(!held.isDone, "the held predict returned before its release")
      release.countDown()
      val heldResp = held.get(180, TimeUnit.SECONDS)
      assert(heldResp.statusCode === 200 && heldResp.body.trim === serial)
    } finally {
      release.countDown()
      server.stop()
    }
  }
}
