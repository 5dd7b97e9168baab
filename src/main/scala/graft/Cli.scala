package graft

import graft.core.{GraftService, Json, Specs}

/** Command-line transport over [[graft.core.GraftService]] — the user
  * surface replacing the reference's REST endpoints one command per
  * endpoint (reference api/ModelAPI.scala:153-193, api/DatasetAPI):
  *
  * {{{
  * graft.Cli <root> dataset add <name> <dir> <table:col,col|table:col>
  * graft.Cli <root> dataset list
  * graft.Cli <root> dataset get <id>
  * graft.Cli <root> dataset delete <id>
  * graft.Cli <root> model add <description>
  * graft.Cli <root> model list
  * graft.Cli <root> model state <id>
  * graft.Cli <root> model train <modelId> <datasetId>
  * graft.Cli <root> model predict <modelId> <datasetId>
  * graft.Cli <root> model delete <id>
  * graft.Cli <root> owl add <name> <format> <file> [description]
  * graft.Cli <root> owl list
  * graft.Cli <root> owl get <id>
  * graft.Cli <root> owl file <id>
  * graft.Cli <root> owl delete <id>
  * graft.Cli <root> ssd add <name> <ontIds> <table> <col=Class.prop,...>
  * graft.Cli <root> ssd list
  * graft.Cli <root> ssd get <id>
  * graft.Cli <root> ssd delete <id>
  * }}}
  *
  * `model add` takes an optional trailing owl id (the stored ontology
  * the model's octopus aligns against).
  *
  * Output is one JSON object per line (machine-consumable, like the
  * reference's JSON responses). */
object Cli {

  def main(args: Array[String]): Unit = {
    val code = run(args.toList)
    if (code != 0) sys.exit(code)
  }

  /** Run one command; 0 on success, 2 on a usage error or a malformed
    * argument (the message goes to stderr). */
  private[graft] def run(args: List[String]): Int = args match {
    case root :: rest =>
      val svc = new GraftService(root)
      try rest match {
        case "dataset" :: "add" :: name :: dir :: tables :: Nil =>
          val ref = svc.createDataset(name, dir, Specs.tables(tables))
          println(s"""{"id":${ref.id},"name":${Json.str(ref.name)}}""")
        case "dataset" :: "list" :: Nil =>
          svc.datasetKeys.flatMap(svc.getDataset).foreach(d =>
            println(s"""{"id":${d.id},"name":${Json.str(d.name)},"dir":${Json.str(d.dir)}}"""))
        case "dataset" :: "get" :: id :: Nil =>
          svc.getDataset(id.toInt) match {
            case Some(d) => println(
              s"""{"id":${d.id},"name":${Json.str(d.name)},"dir":${Json.str(d.dir)},"tables":${Json.str(Specs.renderTables(d.tables))}}""")
            case None => println(s"""{"error":${Json.str(s"dataset $id not found")}}""")
          }
        case "dataset" :: "delete" :: id :: Nil =>
          println(s"""{"deleted":${svc.deleteDataset(id.toInt)}}""")
        case "model" :: "add" :: description :: Nil =>
          val ref = svc.createModel(description)
          println(s"""{"id":${ref.id},"state":"${ref.state}"}""")
        case "model" :: "add" :: description :: owlId :: Nil =>
          val ref = svc.createModel(description, Some(owlId.toInt))
          println(s"""{"id":${ref.id},"state":"${ref.state}","owl":${owlId.toInt}}""")
        case "model" :: "list" :: Nil =>
          svc.modelKeys.flatMap(svc.getModel).foreach(m =>
            println(s"""{"id":${m.id},"state":"${m.state}"}"""))
        case "model" :: "state" :: id :: Nil =>
          svc.getModel(id.toInt) match {
            case Some(m) => println(s"""{"id":${m.id},"state":"${m.state}"}""")
            case None => println(s"""{"error":"model $id not found"}""")
          }
        case "model" :: "train" :: modelId :: datasetId :: Nil =>
          val s = LocalSpark.session()
          try println(s"""{"state":"${
            svc.trainModel(s, modelId.toInt, datasetId.toInt)}"}""")
          finally s.stop()
        case "model" :: "predict" :: modelId :: datasetId :: Nil =>
          val s = LocalSpark.session()
          try {
            val pred = svc.predictModel(s, modelId.toInt, datasetId.toInt)
            (pred.columnJson ++ pred.suggestionJson).foreach(println)
          } finally s.stop()
        case "model" :: "delete" :: id :: Nil =>
          println(s"""{"deleted":${svc.deleteModel(id.toInt)}}""")
        case "owl" :: "add" :: name :: format :: file :: rest if rest.size <= 1 =>
          val doc = java.nio.file.Files.readString(java.nio.file.Paths.get(file))
          val ref = svc.createOwl(name, rest.headOption.getOrElse(""), format, doc)
          println(s"""{"id":${ref.id},"name":${Json.str(ref.name)},"format":"${ref.format}"}""")
        case "owl" :: "list" :: Nil =>
          svc.owlKeys.flatMap(svc.getOwl).foreach(o =>
            println(s"""{"id":${o.id},"name":${Json.str(o.name)},"format":"${o.format}"}"""))
        case "owl" :: "get" :: id :: Nil =>
          svc.getOwl(id.toInt) match {
            case Some(o) => println(s"""{"id":${o.id},"name":${Json.str(o.name)},"format":"${o.format}","description":${Json.str(o.description)}}""")
            case None => println(s"""{"error":"owl $id not found"}""")
          }
        case "owl" :: "file" :: id :: Nil =>
          svc.getOwlDocument(id.toInt) match {
            case Some(doc) => print(doc)
            case None => println(s"""{"error":"owl $id not found"}""")
          }
        case "owl" :: "delete" :: id :: Nil =>
          println(s"""{"deleted":${svc.deleteOwl(id.toInt)}}""")
        case "ssd" :: "add" :: name :: ontIds :: table :: mappings :: Nil =>
          val onts = ontIds.split(",").toSeq.filter(_.nonEmpty).map(_.toInt)
          val m = Specs.mappings(mappings)
          val attrs = graft.core.Ssd
            .identity(0, table, m.keys.toSeq.sorted).attributes
          val ref = svc.createSsd(name, onts, attrs, m)
          println(s"""{"id":${ref.id},"name":${Json.str(ref.name)}}""")
        case "ssd" :: "list" :: Nil =>
          svc.ssdKeys.flatMap(svc.getSsd).foreach(d =>
            println(s"""{"id":${d.id},"name":${Json.str(d.name)}}"""))
        case "ssd" :: "get" :: id :: Nil =>
          svc.getSsd(id.toInt) match {
            case Some(d) => println(s"""{"id":${d.id},"name":${Json.str(d.name)},"ontologies":[${d.ontologies.mkString(",")}],"mappings":${Json.str(d.mappings.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))}}""")
            case None => println(s"""{"error":"ssd $id not found"}""")
          }
        case "ssd" :: "delete" :: id :: Nil =>
          println(s"""{"deleted":${svc.deleteSsd(id.toInt)}}""")
        case _ =>
          System.err.println("unknown command; see Cli scaladoc")
          return 2
      } catch { case e: GraftService.ClientError =>
        System.err.println(e.getMessage)
        return 2
      }
      0
    case _ =>
      System.err.println("usage: graft.Cli <root> <entity> <verb> [args...]")
      2
  }
}
