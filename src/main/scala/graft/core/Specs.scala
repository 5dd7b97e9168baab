package graft.core

/** The two text specs the CLI, the REST server and the dataset store
  * share: a table spec `t:c1,c2|t2:c3` (tables and the columns to use
  * from each) and a mapping spec `col=Class.prop,...` (an SSD's column
  * to ontology-property mappings). A malformed part throws
  * [[GraftService.ClientError]] naming it. */
object Specs {

  def tables(s: String): Seq[(String, Seq[String])] =
    s.split("\\|").toSeq.filter(_.nonEmpty).map { part =>
      part.split(":", 2) match {
        case Array(t, cs) => t -> cs.split(",").toSeq.filter(_.nonEmpty)
        case _ => throw new GraftService.ClientError(
          s"malformed table spec '$part' (expected t:c1,c2|t2:c3)")
      }
    }

  def renderTables(tables: Seq[(String, Seq[String])]): String =
    tables.map { case (t, cs) => s"$t:${cs.mkString(",")}" }.mkString("|")

  def mappings(s: String): Map[String, String] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new GraftService.ClientError(
          s"malformed mapping '$kv' (expected col=Class.property)")
      }
    }.toMap
}
