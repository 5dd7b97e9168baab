package graft.modeler

/** Alignment graph (G1-G3, reference
  * KarmaBuildAlignmentGraph.scala:103-216): the search space for
  * semantic-model suggestion. Nodes are ontology classes; weighted edges
  * are object properties (default weight 1.0) and subclass links.
  * Adding a known semantic model reduces the weight of its links
  * (pattern reuse, the JWS-paper weighting the reference adopts via
  * Karma's ModelLearningGraph) — so suggested trees prefer structures
  * seen in training SSDs. */
final class AlignmentGraph(val ontology: Ontology) {

  /** Known-pattern weight: links seen in a known model cost this
    * fraction of a default link. */
  val KnownWeight = 0.01
  val SubclassWeight = 0.5

  import AlignmentGraph.Edge

  private var known = Vector.empty[SemanticModel]

  /** G2: incremental add of one known SSD. */
  def add(model: SemanticModel): this.type = { known :+= model; this }

  def knownModels: Seq[SemanticModel] = known

  /** G1/G3: current weighted edge set — ontology closure plus
    * known-model re-weighting. */
  def edges: Seq[Edge] = {
    val knownLinks: Set[(String, String, String)] =
      known.flatMap(_.triples).toSet
    val op = ontology.objectProps.map { p =>
      val w = if (knownLinks.contains((p.domain, p.uri, p.range)))
        KnownWeight else 1.0
      Edge(p.domain, p.range, p.uri, w)
    }
    val sc = ontology.subClassOf.toSeq.map { case (sub, sup) =>
      Edge(sub, sup, "subClassOf", SubclassWeight)
    }
    op ++ sc
  }

  def nodes: Set[String] = ontology.classes

  /** G8: JSON export of the alignment graph. */
  def toJson: String = {
    import graft.core.Json.{str => q}
    val ns = nodes.toSeq.sorted.map(q).mkString("[", ",", "]")
    val es = edges.sortBy(e => (e.src, e.label, e.dst)).map(e =>
      s"""{"src":${q(e.src)},"dst":${q(e.dst)},"label":${q(e.label)},"weight":${e.weight}}""")
      .mkString("[", ",", "]")
    s"""{"nodes":$ns,"edges":$es}"""
  }
}

object AlignmentGraph {
  final case class Edge(src: String, dst: String, label: String, weight: Double)
}
