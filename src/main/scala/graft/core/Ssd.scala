package graft.core

/** Semantic source description attributes (reference
  * types/SsdTypes.scala:318-356): each SSD attribute carries the SQL text
  * (`"select col from table"`) that derives it. The store persists the
  * text and the server reads the source table back out of it; nothing
  * executes it, as in the reference. */
final case class SsdAttribute(id: Int, name: String, sql: String)

final case class Ssd(
    id: Int,
    name: String,
    attributes: Seq[SsdAttribute],
    ontologyIds: Seq[Int] = Nil)

object Ssd {
  /** Identity SSD for a table's columns (reference
    * OctopusInterface.generateEmptySsd:414-437). */
  def identity(id: Int, table: String, cols: Seq[String]): Ssd =
    Ssd(id, table, cols.zipWithIndex.map { case (c, i) =>
      SsdAttribute(i, c, s"select `$c` from $table")
    })
}
