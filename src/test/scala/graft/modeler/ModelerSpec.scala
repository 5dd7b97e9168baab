package graft.modeler

import org.scalatest.funsuite.AnyFunSuite

class ModelerSpec extends AnyFunSuite {

  test("turtle parser extracts classes, properties, subclass axioms") {
    val ont = Ontology.parseTurtle("""
      :Person a owl:Class .
      :Student rdfs:subClassOf :Person .
      :name a owl:DatatypeProperty ; rdfs:domain :Person .
      :knows a owl:ObjectProperty ; rdfs:domain :Person ; rdfs:range :Person .
    """)
    assert(ont.classes === Set("Person"))
    assert(ont.subClassOf === Map("Student" -> "Person"))
    assert(ont.dataProps === Seq(DataProp("name", "Person")))
    assert(ont.objectProps === Seq(ObjectProp("knows", "Person", "Person")))
    // inherited data props through subclass closure
    assert(ont.dataPropsOf("Student").map(_.uri) === Seq("name"))
  }

  test("steiner top-k connects terminals at minimum cost") {
    import SteinerTree._
    val edges = Seq(
      Edge("A", "B", "ab", 1.0), Edge("B", "C", "bc", 1.0),
      Edge("A", "C", "ac", 5.0))
    val trees = topK(edges, Seq("A", "C"), 3)
    assert(trees.nonEmpty)
    // cheapest path A-B-C (cost 2) beats direct A-C (cost 5)
    assert(trees.head.cost === 2.0)
    assert(trees.head.key === Set(("A", "ab", "B"), ("B", "bc", "C")))
    // the direct edge appears as a later-ranked alternative
    assert(trees.exists(_.key === Set(("A", "ac", "C"))))
  }

  test("known models bias the alignment graph and the suggestion") {
    val align = new AlignmentGraph(Ontology.tpch)
    val before = align.edges.find(_.label == "placedBy").get.weight
    align.add(ModelerQueries.knownOrderModel)
    val after = align.edges.find(_.label == "placedBy").get.weight
    assert(before === 1.0 && after === align.KnownWeight)
  }

  test("suggested models are ranked, connected, consistent") {
    val suggestions = ModelerQueries.suggestFor(
      ModelerQueries.flatColumns, Seq(ModelerQueries.knownOrderModel))
    assert(suggestions.nonEmpty && suggestions.size <= SemanticModeler.DefaultTopK)
    suggestions.foreach { s =>
      assert(s.model.isConnected, s"disconnected: ${s.model.triples}")
      assert(s.model.isConsistent)
    }
    // ranking is by score ascending
    val scores = suggestions.map(_.scores.karmaScore)
    assert(scores === scores.sorted)
    // the top model maps columns onto the known Order-Customer-Nation shape
    val top = suggestions.head.model
    assert(top.triples.contains(("Order", "placedBy", "Customer")))
    assert(top.triples.contains(("Customer", "custNation", "Nation")))
  }

  test("top suggestion matches the gold model on triples") {
    val suggestions = ModelerQueries.suggestFor(
      ModelerQueries.flatColumns, Seq(ModelerQueries.knownOrderModel))
    val top = suggestions.head.model
    // data properties attach each column to the right class
    assert(top.triples.contains(("Order", "orderkey", "orderkey")))
    assert(top.triples.contains(("Customer", "name", "name")))
    assert(top.triples.contains(("Nation", "nationname", "nationname")))
  }

  test("semantic model JSON round-trips") {
    val m = ModelerQueries.knownOrderModel
    val back = SemanticModel.fromJson(m.toJson)
    assert(back.triples === m.triples)
    assert(back.nodes === m.nodes)
  }

  test("semantic model JSON round-trips labels with braces, quotes, " +
      "backslashes and newlines") {
    val labels = Seq("a}b", "{c", "q\"uote", "back\\slash", "new\nline",
      "tab\tand a literal \\n")
    val m = SemanticModel(
      labels.zipWithIndex.map { case (l, i) =>
        if (i % 2 == 0) ClassNode(i, l) else ColumnNode(i, l)
      } :+ ClassNode(99, "after"),
      Seq(SmLink(0, 1, "p}{\"\\\n", 0.5), SmLink(0, 99, "last")))
    val json = m.toJson
    // one line per model in Octopus's known_models.jsonl
    assert(!json.contains("\n"))
    assert(SemanticModel.fromJson(json) === m)
  }

  test("alignment graph JSON escapes its labels") {
    val ont = Ontology(Set("A\"x", "B\\y"), Nil,
      Seq(ObjectProp("p\nq", "A\"x", "B\\y")), Map.empty)
    val json = new AlignmentGraph(ont).toJson
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("nodes").get(0).asText === "A\"x")
    assert(tree.get("edges").get(0).get("label").asText === "p\nq")
  }

  test("triple evaluation computes precision/recall/jaccard") {
    val a = SemanticModel(
      Seq(ClassNode(0, "A"), ClassNode(1, "B"), ColumnNode(2, "c")),
      Seq(SmLink(0, 1, "x"), SmLink(0, 2, "p")))
    val b = SemanticModel(
      Seq(ClassNode(0, "A"), ClassNode(1, "B"), ColumnNode(2, "d")),
      Seq(SmLink(0, 1, "x"), SmLink(0, 2, "q")))
    val (p, r, j) = SemanticModel.evaluate(a, b)
    assert(p === 0.5 && r === 0.5)
    assert(j === math.round(1.0 / 3 * 100) / 100.0)
  }

  test("rdf/xml owl loads to the same ontology as its turtle twin") {
    val ns = "http://example.org/shop#"
    val rdfXml = s"""<?xml version="1.0"?>
      <rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
               xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
               xmlns:owl="http://www.w3.org/2002/07/owl#">
        <owl:Ontology rdf:about="${ns.dropRight(1)}"/>
        <owl:Class rdf:about="${ns}Customer"/>
        <owl:Class rdf:about="${ns}Order"/>
        <owl:Class rdf:ID="VipCustomer">
          <rdfs:subClassOf rdf:resource="${ns}Customer"/>
        </owl:Class>
        <owl:DatatypeProperty rdf:about="${ns}name">
          <rdfs:domain rdf:resource="${ns}Customer"/>
        </owl:DatatypeProperty>
        <owl:ObjectProperty rdf:about="${ns}placedBy">
          <rdfs:domain rdf:resource="${ns}Order"/>
          <rdfs:range rdf:resource="${ns}Customer"/>
        </owl:ObjectProperty>
      </rdf:RDF>"""
    val turtle = """
      :Customer a owl:Class .
      :Order a owl:Class .
      :VipCustomer a owl:Class .
      :VipCustomer rdfs:subClassOf :Customer .
      :name a owl:DatatypeProperty ; rdfs:domain :Customer .
      :placedBy a owl:ObjectProperty ; rdfs:domain :Order ; rdfs:range :Customer .
    """
    val fromXml = Ontology.parse(rdfXml)
    val fromTtl = Ontology.parse(turtle)
    assert(fromXml === fromTtl)
    assert(fromXml.classes === Set("Customer", "Order", "VipCustomer"))
    assert(fromXml.subClassOf === Map("VipCustomer" -> "Customer"))
    assert(fromXml.dataPropsOf("VipCustomer").map(_.uri) === Seq("name"))
  }

  test("g2 oracle pin matches the live alignment graph") {
    val align = new AlignmentGraph(Ontology.tpch)
      .add(ModelerQueries.knownOrderModel)
    val live = align.edges.map(e => (e.src, e.label, e.dst, e.weight))
      .sortBy(t => (t._1, t._2, t._3))
    assert(live === ModelerQueries.PinnedAlignmentEdges,
      "alignment graph drifted — refresh ModelerQueries.PinnedAlignmentEdges")
  }

  test("suggestion is deterministic") {
    def run() = ModelerQueries.suggestFor(
      ModelerQueries.flatColumns, Seq(ModelerQueries.knownOrderModel))
      .map(s => (s.model.triples, s.scores))
    assert(run() === run())
  }

}
