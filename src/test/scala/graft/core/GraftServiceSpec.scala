package graft.core

import graft.SparkSpec
import graft.matcher.Labels
import graft.modeler.ModelerQueries

/** End-to-end orchestration parity: register datasets -> create model ->
  * train -> predict -> fetch suggestions through the service, plus the
  * CRUD surface (keys/get/update-on-train/delete) and metadata
  * persistence across service instances. */
class GraftServiceSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("dataset and model CRUD round-trips on disk") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc").toString
    val svc = new GraftService(root)
    assert(svc.datasetKeys.isEmpty && svc.modelKeys.isEmpty)
    val ds = svc.createDataset("holdout", sf, Labels.holdoutTables)
    val ds2 = svc.createDataset("other", sf, Seq("region" -> Seq("r_name")))
    assert(svc.datasetKeys === Seq(ds.id, ds2.id))
    // a fresh service instance reads the same store (file-backed CRUD)
    val svcReloaded = new GraftService(root)
    val got = svcReloaded.getDataset(ds.id).get
    assert(got.name === "holdout" && got.dir === sf)
    assert(got.tables === Labels.holdoutTables)
    assert(svcReloaded.deleteDataset(ds2.id))
    assert(svcReloaded.datasetKeys === Seq(ds.id))
    assert(!svcReloaded.deleteDataset(ds2.id), "second delete is a no-op")
    assert(svcReloaded.getDataset(ds2.id).isEmpty)
  }

  test("register -> train -> predict -> suggestions end to end") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-e2e").toString
    val svc = new GraftService(root,
      knownModels = Seq(ModelerQueries.knownOrderModel))
    val train = svc.createDataset("train", sf, Labels.trainTables)
    val holdout = svc.createDataset("holdout", sf, Labels.holdoutTables)
    val model = svc.createModel("semantic-typer")
    assert(svc.getModel(model.id).get.state === "Untrained")

    val st = svc.trainModel(spark, model.id, train.id)
    assert(st === Octopus.Complete)
    assert(svc.getModel(model.id).get.state === "Complete",
      "train state persisted to the model store")
    // trained artifacts live beside the model metadata
    val mdir = java.nio.file.Paths.get(root, "models", model.id.toString)
    assert(java.nio.file.Files.exists(mdir.resolve("pipeline")))
    assert(java.nio.file.Files.exists(mdir.resolve("alignment.json")))

    val pred = svc.predictModel(spark, model.id, holdout.id)
    assert(pred.columnPredictions.count() === Labels.holdout.size.toLong)
    val sugg = svc.suggestions(spark, model.id, holdout.id)
    assert(sugg.nonEmpty && sugg.forall(_.model.isConnected))

    // a fresh service instance (new JVM in production) rehydrates the
    // trained model from disk and predicts without retraining
    val svc2 = new GraftService(root,
      knownModels = Seq(ModelerQueries.knownOrderModel))
    val pred2 = svc2.predictModel(spark, model.id, holdout.id)
    assert(pred2.columnPredictions.count() === Labels.holdout.size.toLong)

    assert(svc.deleteModel(model.id))
    assert(svc.getModel(model.id).isEmpty)
  }

  test("a record rewrite is never read half-written (a GET polling a " +
      "training model's state)") {
    val root = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val svc = new GraftService(root)
    val owl = svc.createOwl("tpch", "v0", "ttl",
      graft.modeler.Ontology.tpchTurtle)
    @volatile var writing = true
    val writer = new Thread(() =>
      try (1 to 3000).foreach(i => svc.updateOwl(owl.id, Some(s"v$i"), None))
      finally writing = false)
    writer.start()
    var reads, torn = 0
    var firstTorn: Option[Throwable] = None
    while (writing) {
      try assert(svc.getOwl(owl.id).exists(_.name == "tpch"))
      catch { case e: Throwable => torn += 1; firstTorn = firstTorn.orElse(Some(e)) }
      reads += 1
    }
    writer.join()
    Caches.deleteScratch(root)
    assert(reads > 0)
    assert(torn == 0, s"of $reads reads saw a partial record: $firstTorn")
  }

  test("owl + ssd CRUD: store round-trip, validation, dependent-delete " +
      "refusal (reference OwlStorage/SsdStorage + OwlInterface.dependents)") {
    val root = java.nio.file.Files.createTempDirectory("graft-owl").toString
    val svc = new GraftService(root)
    import graft.modeler.Ontology

    // validation at the door: unsupported format / unparseable document
    intercept[GraftService.ClientError] {
      svc.createOwl("bad", "", "jsonld", Ontology.tpchTurtle)
    }
    intercept[GraftService.ClientError] {
      svc.createOwl("bad", "", "ttl", "this is not turtle")
    }

    val owl = svc.createOwl("tpch", "the tpch ontology", "ttl",
      Ontology.tpchTurtle)
    assert(svc.owlKeys === Seq(owl.id))
    assert(svc.getOwl(owl.id).get.name === "tpch")
    // the document round-trips VERBATIM (reference getOwlDocument
    // serves the stored file, not a re-serialization)
    assert(svc.getOwlDocument(owl.id).get === Ontology.tpchTurtle)
    // and parses back to the same ontology
    assert(Ontology.parse(svc.getOwlDocument(owl.id).get) === Ontology.tpch)

    // update: description only, then document replacement w/ validation
    val up = svc.updateOwl(owl.id, Some("v2"), None)
    assert(up.description === "v2" &&
      svc.getOwl(owl.id).get.description === "v2")
    intercept[GraftService.ClientError] {
      svc.updateOwl(owl.id, None, Some("<broken"))
    }

    // ssd referencing the owl; mappings validated against its data props
    intercept[GraftService.ClientError] {
      svc.createSsd("bad", Seq(999), Nil, Map.empty) // dangling ontology
    }
    intercept[GraftService.ClientError] {
      svc.createSsd("bad", Seq(owl.id), Nil,
        Map("c" -> "Nope.nothing")) // dangling mapping target
    }
    val attrs = Ssd.identity(0, "orders",
      Seq("o_orderdate", "o_totalprice")).attributes
    val ssd = svc.createSsd("orders-ssd", Seq(owl.id), attrs,
      Map("o_orderdate" -> "Order.orderdate",
        "o_totalprice" -> "Order.totalprice"))
    assert(svc.ssdKeys === Seq(ssd.id))
    val got = svc.getSsd(ssd.id).get
    assert(got.name === "orders-ssd" && got.ontologies === Seq(owl.id))
    assert(got.attributes === attrs, "attribute SQL survives the store " +
      "(incl. ':' and ',' — the flat-meta packing must be payload-safe)")
    assert(got.mappings === Map("o_orderdate" -> "Order.orderdate",
      "o_totalprice" -> "Order.totalprice"))

    // a model bound to the owl; unknown owl refused
    intercept[GraftService.ClientError] { svc.createModel("m", Some(999)) }
    val model = svc.createModel("owl-backed", Some(owl.id))
    assert(svc.getModel(model.id).get.owlId === Some(owl.id))

    // delete refusal while referenced (by the ssd AND the model)...
    intercept[GraftService.ClientError] { svc.deleteOwl(owl.id) }
    assert(svc.updateSsd(ssd.id, got.name, Nil, got.attributes,
      Map.empty).ontologies.isEmpty)
    intercept[GraftService.ClientError] { svc.deleteOwl(owl.id) } // model still
    assert(svc.deleteModel(model.id))
    // ...then allowed once nothing refers to it
    assert(svc.deleteOwl(owl.id))
    assert(svc.getOwl(owl.id).isEmpty)
    assert(svc.deleteSsd(ssd.id) && svc.ssdKeys.isEmpty)
  }

  test("train on a missing dataset fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-svc-err").toString
    val svc = new GraftService(root)
    val model = svc.createModel("m")
    intercept[NoSuchElementException] {
      svc.trainModel(spark, model.id, 99)
    }
  }
}
