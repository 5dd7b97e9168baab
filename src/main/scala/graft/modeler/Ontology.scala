package graft.modeler

/** Minimal ontology model + Turtle-subset parser (reference modeler
  * loads OWL via Karma/Jena — KarmaParams.scala:48-205; we parse the
  * subset the modeler actually uses: classes, data properties, object
  * properties with domain/range, subclass axioms).
  *
  * Graphs here are ontology-sized (tens of nodes), so everything is
  * driver-side Scala — SURVEY §2.11: distribution is unnecessary and
  * would only add latency.
  */
final case class DataProp(uri: String, domain: String)
final case class ObjectProp(uri: String, domain: String, range: String)

final case class Ontology(
    classes: Set[String],
    dataProps: Seq[DataProp],
    objectProps: Seq[ObjectProp],
    subClassOf: Map[String, String]) {

  /** Classes plus all superclasses (closure). */
  def classClosure(c: String): List[String] =
    c :: subClassOf.get(c).map(classClosure).getOrElse(Nil)

  /** Data properties available on a class incl. inherited ones. */
  def dataPropsOf(c: String): Seq[DataProp] = {
    val cs = classClosure(c).toSet
    dataProps.filter(p => cs.contains(p.domain))
  }
}

object Ontology {

  /** Parse a pragmatic Turtle subset:
    * {{{
    * :Customer a owl:Class .
    * :SpecialCustomer rdfs:subClassOf :Customer .
    * :name a owl:DatatypeProperty ; rdfs:domain :Customer .
    * :placedBy a owl:ObjectProperty ; rdfs:domain :Order ; rdfs:range :Customer .
    * }}}
    */
  def parseTurtle(text: String): Ontology = {
    val statements = text.split("\\.\\s*\n|\\.\\s*$").map(_.trim).filter(_.nonEmpty)
      .filterNot(s => s.startsWith("@prefix") || s.startsWith("#"))
    var classes = Set.empty[String]
    var dataProps = Vector.empty[DataProp]
    var objectProps = Vector.empty[ObjectProp]
    var subClassOf = Map.empty[String, String]

    def localName(t: String): String =
      t.stripPrefix(":").replaceAll("^.*[:#/]", "")

    statements.foreach { st =>
      val clauses = st.split(";").map(_.trim).filter(_.nonEmpty)
      val firstToks = clauses.head.split("\\s+")
      val subject = localName(firstToks.head)
      // clause list: first clause minus the subject, then the rest
      val pairs = (firstToks.drop(1).mkString(" ") +: clauses.tail.toSeq)
        .map(_.split("\\s+")).collect { case t if t.length >= 2 => (t(0), t(1)) }
      var isData = false; var isObject = false
      var domain: Option[String] = None; var range: Option[String] = None
      pairs.foreach {
        case ("a" | "rdf:type", obj) => localName(obj) match {
          case "Class" => classes += subject
          case "DatatypeProperty" => isData = true
          case "ObjectProperty" => isObject = true
          case _ =>
        }
        case (p, obj) if p.endsWith("subClassOf") =>
          subClassOf += subject -> localName(obj)
        case (p, obj) if p.endsWith("domain") => domain = Some(localName(obj))
        case (p, obj) if p.endsWith("range") => range = Some(localName(obj))
        case _ =>
      }
      if (isData) domain.foreach(d => dataProps :+= DataProp(subject, d))
      if (isObject) for (d <- domain; r <- range)
        objectProps :+= ObjectProp(subject, d, r)
    }
    Ontology(classes, dataProps, objectProps, subClassOf)
  }

  /** Parse the RDF/XML OWL shape the reference ships alongside Turtle
    * (e.g. modeler ssd/dataintegration_report_ontology.owl; reference
    * loads both via Jena, KarmaParams.scala:48-205): owl:Class,
    * owl:DatatypeProperty / owl:ObjectProperty elements identified by
    * rdf:about or rdf:ID, with rdfs:domain / rdfs:range / rdfs:subClassOf
    * children carrying rdf:resource URIs. URIs reduce to local names
    * (text after the last # or /), matching the Turtle parser's
    * convention so both syntaxes load to the same [[Ontology]]. */
  def parseRdfXml(xml: String): Ontology = {
    val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val rdfsNs = "http://www.w3.org/2000/01/rdf-schema#"
    val owlNs = "http://www.w3.org/2002/07/owl#"
    val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    factory.setNamespaceAware(true)
    factory.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = factory.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))

    def local(uri: String): String = uri.replaceAll("^.*[#/]", "")
    def nodes(ns: String, name: String): Seq[org.w3c.dom.Element] = {
      val nl = doc.getElementsByTagNameNS(ns, name)
      (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
    }
    def idOf(e: org.w3c.dom.Element): Option[String] =
      Option(e.getAttributeNS(rdfNs, "about")).filter(_.nonEmpty)
        .orElse(Option(e.getAttributeNS(rdfNs, "ID")).filter(_.nonEmpty))
        .map(local)
    def childResources(e: org.w3c.dom.Element, name: String): Seq[String] = {
      val nl = e.getElementsByTagNameNS(rdfsNs, name)
      (0 until nl.getLength)
        .map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
        .flatMap(c => Option(c.getAttributeNS(rdfNs, "resource"))
          .filter(_.nonEmpty).map(local))
    }

    val classes = nodes(owlNs, "Class").flatMap(idOf).toSet
    val subClassOf = nodes(owlNs, "Class").flatMap { e =>
      for (c <- idOf(e); sup <- childResources(e, "subClassOf").headOption)
        yield c -> sup
    }.toMap
    val dataProps = nodes(owlNs, "DatatypeProperty").flatMap { e =>
      for (p <- idOf(e); d <- childResources(e, "domain").headOption)
        yield DataProp(p, d)
    }
    val objectProps = nodes(owlNs, "ObjectProperty").flatMap { e =>
      for (p <- idOf(e); d <- childResources(e, "domain").headOption;
           r <- childResources(e, "range").headOption)
        yield ObjectProp(p, d, r)
    }
    Ontology(classes, dataProps.toVector, objectProps.toVector, subClassOf)
  }

  /** Load either OWL syntax the reference accepts: RDF/XML when the text
    * is an XML document, Turtle otherwise. */
  def parse(text: String): Ontology = {
    val t = text.trim
    if (t.startsWith("<?xml") || t.startsWith("<rdf:RDF")) parseRdfXml(t)
    else parseTurtle(t)
  }

  /** Turtle source of [[tpch]] — public so the service's owl-upload
    * round-trip (ServerSpec) can POST the same document a user would. */
  val tpchTurtle: String = ("""
    :Customer a owl:Class .
    :Order a owl:Class .
    :LineItem a owl:Class .
    :Part a owl:Class .
    :Supplier a owl:Class .
    :Nation a owl:Class .
    :Region a owl:Class .
    :custkey a owl:DatatypeProperty ; rdfs:domain :Customer .
    :name a owl:DatatypeProperty ; rdfs:domain :Customer .
    :acctbal a owl:DatatypeProperty ; rdfs:domain :Customer .
    :mktsegment a owl:DatatypeProperty ; rdfs:domain :Customer .
    :orderkey a owl:DatatypeProperty ; rdfs:domain :Order .
    :orderdate a owl:DatatypeProperty ; rdfs:domain :Order .
    :totalprice a owl:DatatypeProperty ; rdfs:domain :Order .
    :orderstatus a owl:DatatypeProperty ; rdfs:domain :Order .
    :orderpriority a owl:DatatypeProperty ; rdfs:domain :Order .
    :quantity a owl:DatatypeProperty ; rdfs:domain :LineItem .
    :extendedprice a owl:DatatypeProperty ; rdfs:domain :LineItem .
    :discount a owl:DatatypeProperty ; rdfs:domain :LineItem .
    :shipdate a owl:DatatypeProperty ; rdfs:domain :LineItem .
    :partname a owl:DatatypeProperty ; rdfs:domain :Part .
    :brand a owl:DatatypeProperty ; rdfs:domain :Part .
    :parttype a owl:DatatypeProperty ; rdfs:domain :Part .
    :retailprice a owl:DatatypeProperty ; rdfs:domain :Part .
    :suppname a owl:DatatypeProperty ; rdfs:domain :Supplier .
    :suppbal a owl:DatatypeProperty ; rdfs:domain :Supplier .
    :nationname a owl:DatatypeProperty ; rdfs:domain :Nation .
    :regionname a owl:DatatypeProperty ; rdfs:domain :Region .
    :placedBy a owl:ObjectProperty ; rdfs:domain :Order ; rdfs:range :Customer .
    :contains a owl:ObjectProperty ; rdfs:domain :Order ; rdfs:range :LineItem .
    :ofPart a owl:ObjectProperty ; rdfs:domain :LineItem ; rdfs:range :Part .
    :suppliedBy a owl:ObjectProperty ; rdfs:domain :LineItem ; rdfs:range :Supplier .
    :custNation a owl:ObjectProperty ; rdfs:domain :Customer ; rdfs:range :Nation .
    :suppNation a owl:ObjectProperty ; rdfs:domain :Supplier ; rdfs:range :Nation .
    :inRegion a owl:ObjectProperty ; rdfs:domain :Nation ; rdfs:range :Region .
  """)

  /** Built-in TPC-H-domain ontology used by the modeler queries. */
  val tpch: Ontology = parseTurtle(tpchTurtle)
}
