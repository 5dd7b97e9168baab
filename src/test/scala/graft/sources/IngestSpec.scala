package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class IngestSpec extends SparkSpec {

  private lazy val tmp = {
    val d = tempDir("graft-ingest").toString
    // CSV with header, an all-empty row, quoted comma
    Files.writeString(Paths.get(s"$d/people.csv"),
      "name,age,city\nAlice,34,\"Sydney, AU\"\n,,\nBob,28,Perth\n")
    // placeholder header (exactly 0..n-1 -> no real column names)
    Files.writeString(Paths.get(s"$d/noheader.csv"), "0,1\n1,2\n3,4\n")
    // an all-digit first row that is NOT 0..n-1 is a real header
    Files.writeString(Paths.get(s"$d/digitheader.csv"), "1,2\n3,4\n")
    // JSON records with nesting + ragged keys
    Files.writeString(Paths.get(s"$d/recs.json"),
      """{"id":1,"who":{"name":"A","mail":"a@x.com"}}
        |{"id":2,"who":{"name":"B"},"extra":"y"}""".stripMargin)
    // Two XML docs with unioned attribute sets
    Files.createDirectory(Paths.get(s"$d/xml"))
    Files.writeString(Paths.get(s"$d/xml/a.xml"),
      "<person><name>Ann</name><addr><city>Rome</city></addr></person>")
    Files.writeString(Paths.get(s"$d/xml/b.xml"),
      "<person><name>Ben</name><phone>123</phone></person>")
    // labels: 6-col predicted with unvalidated '?' row
    Files.writeString(Paths.get(s"$d/labels.csv"),
      "attr_id,label,validated,a,b,c\ncol1,name,yes,.,.,.\ncol2,city,?,.,.,.\n")
    d
  }

  test("csv drops all-empty rows and keeps strings") {
    val df = Ingest.csv(spark, s"$tmp/people.csv")
    assert(df.columns.toSeq === Seq("name", "age", "city"))
    assert(df.count() === 2)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("placeholder header 0..n-1 means no column names") {
    val df = Ingest.csv(spark, s"$tmp/noheader.csv")
    assert(df.columns.toSeq === Seq("col_0", "col_1"))
    assert(df.count() === 2)
  }

  test("all-digit header that is not 0..n-1 is a real header") {
    val df = Ingest.csv(spark, s"$tmp/digitheader.csv")
    assert(df.columns.toSeq === Seq("1", "2"))
    assert(df.count() === 1)
  }

  test("file-per-column corpus parses attr@table@db filenames") {
    val d = tempDir("graft-northix").toString
    Files.writeString(Paths.get(s"$d/name@person@db1"), "alice\nbob\n")
    Files.writeString(Paths.get(s"$d/age@person@db1"), "30\n40\n")
    Files.writeString(Paths.get(s"$d/title@book@db2"), "dune\n")
    Files.writeString(Paths.get(s"$d/README"), "not a column file\n")
    val df = Ingest.filePerColumn(spark, d)
    val rows = df.collect()
    assert(rows.length === 5, "README skipped")
    val byCol = rows.groupBy(_.getAs[String]("col_name"))
    assert(byCol.keySet === Set("name@person@db1", "age@person@db1",
      "title@book@db2"))
    assert(byCol("name@person@db1").map(_.getAs[String]("value")).toSet ===
      Set("alice", "bob"))
    val t = rows.find(_.getAs[String]("col_name") == "title@book@db2").get
    assert(t.getAs[String]("db") === "db2" && t.getAs[String]("table") === "book")
  }

  test("directory labels: subdirectory = class, files = members") {
    val d = tempDir("graft-dirlabels")
    Files.createDirectories(d.resolve("person"))
    Files.createDirectories(d.resolve("place"))
    Files.writeString(d.resolve("person/name@p@db"), "")
    Files.writeString(d.resolve("person/age@p@db"), "")
    Files.writeString(d.resolve("place/city@p@db"), "")
    val rows = Ingest.directoryLabels(spark, d.toString).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("person", "name@p@db"), ("person", "age@p@db"),
      ("place", "city@p@db")))
  }

  test("json-ld per-property extraction: head, english, scalar") {
    val d = tmp
    // DBPedia-export shape: property URIs as field names, arrays of
    // {lang, value} objects
    Files.writeString(Paths.get(s"$d/dbp.json"),
      """{"http://dbpedia.org/ontology/abstract":[{"lang":"de","value":"Hallo"},{"lang":"en","value":"Hello"}],"http://xmlns.com/foaf/0.1/givenName":[{"lang":"en","value":"Ada"}],"http://dbpedia.org/ontology/wikiPageID":[{"value":"123"}],"plain":"x"}""" + "\n" +
      """{"http://dbpedia.org/ontology/abstract":[{"lang":"en","value":"Second"}],"http://xmlns.com/foaf/0.1/givenName":[{"lang":"en","value":"Grace"}],"http://dbpedia.org/ontology/wikiPageID":[{"value":"456"}],"plain":"y"}""")
    val df = Ingest.jsonProperties(spark, s"$d/dbp.json", Seq(
      "abstract" -> "http://dbpedia.org/ontology/abstract",
      "givenName" -> "http://xmlns.com/foaf/0.1/givenName",
      "dbpedia_id" -> "http://dbpedia.org/ontology/wikiPageID",
      "plain" -> "plain",
      "missing" -> "http://no.such/property"),
      english = Set("abstract"))
    assert(df.columns.toSeq ===
      Seq("abstract", "givenName", "dbpedia_id", "plain", "missing"))
    val rows = df.orderBy("dbpedia_id").collect()
    assert(rows.map(_.getAs[String]("abstract")).toSeq ===
      Seq("Hello", "Second"), "english entry wins over head")
    assert(rows.map(_.getAs[String]("givenName")).toSeq === Seq("Ada", "Grace"))
    assert(rows.map(_.getAs[String]("plain")).toSeq === Seq("x", "y"))
    assert(rows.forall(_.getAs[String]("missing") == null))
  }

  test("json flattens nested fields to label@path names") {
    val df = Ingest.jsonFlat(spark, s"$tmp/recs.json")
    assert(df.columns.toSet === Set("extra", "id", "mail@who", "name@who"))
    assert(df.count() === 2)
  }

  test("xml melts docs to label@path rows with unioned attributes") {
    val df = Ingest.xmlLong(spark, s"$tmp/xml")
    val attrs = df.select("attr").distinct().collect().map(_.getString(0)).toSet
    assert(attrs === Set("name@person", "city@addr@person", "phone@person"))
    assert(df.count() === 4)
  }

  test("labels loader skips unvalidated predicted labels") {
    val df = Ingest.labels(spark, s"$tmp/labels.csv")
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("col1", "name")))
  }

  test("bounded column sample takes n deterministic values per column") {
    val df = Tables.table(spark, "/root/testdata/sf0.001", "customer")
    val s1 = Ingest.boundedColumnSample(df, Seq("c_name", "c_mktsegment"), 10)
    assert(s1.groupBy("col_name").count().collect()
      .forall(_.getLong(1) === 10L))
    val s2 = Ingest.boundedColumnSample(df, Seq("c_name", "c_mktsegment"), 10)
    assert(s1.collect().map(_.toSeq).toSet === s2.collect().map(_.toSeq).toSet)
  }

  test("retype applies sentinel defaults on cast failure") {
    import spark.implicits._
    val df = Seq(("1", "x"), ("oops", "2.5")).toDF("i", "d")
    val out = Ingest.retype(df, Map("i" -> "int", "d" -> "double")).collect()
    assert(out(0).getInt(0) === 1)
    assert(out(1).getInt(0) === Int.MinValue)
    assert(out(0).getDouble(1).isNaN)
    assert(out(1).getDouble(1) === 2.5)
  }

  test("csv roundtrip through writeCsv") {
    val df = Ingest.csv(spark, s"$tmp/people.csv")
    val out = s"$tmp/out_csv"
    Ingest.writeCsv(df, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === 2)
    assert(back.columns.toSeq === df.columns.toSeq)
  }

  test("orc roundtrip preserves schema, values, and pushes filters") {
    val df = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "nation")
    val out = s"$tmp/out_orc"
    Ingest.writeOrc(df, out)
    val back = Ingest.orc(spark, out)
    assert(back.schema === df.schema, "ORC round-trip keeps exact types")
    assert(back.count() === df.count())
    val filtered = back.filter(org.apache.spark.sql.functions
      .col("n_regionkey") === 0)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      "predicate reaches the ORC scan:\n" + plan.take(400))
    assert(filtered.count() === df.filter("n_regionkey = 0").count())
  }
}
