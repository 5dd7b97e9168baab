package graft.modeler

/** Semantic-model graph: a small labelled directed multigraph mapping
  * data columns onto ontology classes (reference
  * types/SemanticModel.scala:41-171, SsdTypes.scala:164-283). Node ids
  * are ints; class nodes carry an ontology class URI, column nodes a
  * column name. Links are data properties (class -> column) or object
  * properties (class -> class). */
sealed trait SmNode { def id: Int; def label: String }
final case class ClassNode(id: Int, label: String) extends SmNode
final case class ColumnNode(id: Int, label: String) extends SmNode

final case class SmLink(src: Int, dst: Int, label: String, weight: Double = 1.0)

final case class SemanticModel(nodes: Seq[SmNode], links: Seq[SmLink]) {

  def classNodes: Seq[ClassNode] = nodes.collect { case c: ClassNode => c }
  def columnNodes: Seq[ColumnNode] = nodes.collect { case c: ColumnNode => c }
  private def byId: Map[Int, SmNode] = nodes.map(n => n.id -> n).toMap

  /** Connectivity check, undirected (reference SsdTypes.isComplete,
    * :178-221: a complete model is one connected graph). */
  def isConnected: Boolean = {
    if (nodes.isEmpty) return true
    val adj = links.flatMap(l => Seq(l.src -> l.dst, l.dst -> l.src))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seen = collection.mutable.Set(nodes.head.id)
    val stack = collection.mutable.Stack(nodes.head.id)
    while (stack.nonEmpty) {
      val n = stack.pop()
      adj.getOrElse(n, Nil).foreach(m => if (seen.add(m)) stack.push(m))
    }
    seen.size == nodes.size
  }

  /** Consistency: every column node has exactly one incoming data
    * property and no outgoing links (reference SsdTypes.isConsistent). */
  def isConsistent: Boolean = columnNodes.forall { c =>
    links.count(_.dst == c.id) == 1 && !links.exists(_.src == c.id)
  }

  /** RDF-style triple set for evaluation (reference
    * EvaluateOctopus.scala:50-101 compares triple sets). */
  def triples: Set[(String, String, String)] = {
    val m = byId
    links.map(l => (m(l.src).label, l.label, m(l.dst).label)).toSet
  }

  def linkCost: Double = links.map(_.weight).sum

  /** Compact JSON serialization (G8; reference stores SSDs as JSON). */
  def toJson: String = {
    import graft.core.Json.{str => q}
    val ns = nodes.map {
      case ClassNode(id, l) => s"""{"id":$id,"type":"class","label":${q(l)}}"""
      case ColumnNode(id, l) => s"""{"id":$id,"type":"column","label":${q(l)}}"""
    }.mkString("[", ",", "]")
    val ls = links.map(l =>
      s"""{"src":${l.src},"dst":${l.dst},"label":${q(l.label)},"weight":${l.weight}}""")
      .mkString("[", ",", "]")
    s"""{"nodes":$ns,"links":$ls}"""
  }
}

object SemanticModel {

  /** Parse the toJson format back (Jackson, which ships with Spark). */
  def fromJson(json: String): SemanticModel = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    def objs(k: String) = root.get(k).elements.asScala.toSeq
    val nodes = objs("nodes").map { o =>
      val (id, label) = (o.get("id").asInt, o.get("label").asText)
      if (o.get("type").asText == "class") ClassNode(id, label)
      else ColumnNode(id, label)
    }
    val links = objs("links").map(o => SmLink(o.get("src").asInt,
      o.get("dst").asInt, o.get("label").asText, o.get("weight").asDouble))
    SemanticModel(nodes, links)
  }

  /** Triple-set evaluation: precision / recall / jaccard (M11, reference
    * EvaluateOctopus.scala:50-101, 2-decimal rounding kept). */
  def evaluate(predicted: SemanticModel, gold: SemanticModel): (Double, Double, Double) = {
    val p = predicted.triples; val g = gold.triples
    val inter = (p & g).size.toDouble
    def r2(x: Double) = math.round(x * 100) / 100.0
    (r2(if (p.isEmpty) 0 else inter / p.size),
      r2(if (g.isEmpty) 0 else inter / g.size),
      r2(if ((p | g).isEmpty) 0 else inter / (p | g).size))
  }
}
