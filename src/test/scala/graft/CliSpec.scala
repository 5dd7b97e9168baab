package graft

/** CLI transport: metadata commands (no Spark session needed — the
  * suite never touches `spark`) parse, mutate the store, and emit one
  * JSON object per line. */
class CliSpec extends SparkSpec {

  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { Cli.main(args.toArray) }
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("dataset and model metadata commands round-trip") {
    val root = tempDir("graft-cli").toString
    val add = run(root, "dataset", "add", "d1", "/tmp/x",
      "nation:n_name,n_nationkey|region:r_name")
    assert(add === Seq("""{"id":1,"name":"d1"}"""))
    val get = run(root, "dataset", "get", "1")
    assert(get.head.contains(""""tables":"nation:n_name,n_nationkey|region:r_name""""))
    assert(run(root, "model", "add", "typer") ===
      Seq("""{"id":1,"state":"Untrained"}"""))
    assert(run(root, "model", "state", "1") ===
      Seq("""{"id":1,"state":"Untrained"}"""))
    assert(run(root, "dataset", "list").length === 1)
    assert(run(root, "dataset", "delete", "1") === Seq("""{"deleted":true}"""))
    assert(run(root, "dataset", "list").isEmpty)
    assert(run(root, "model", "state", "9").head.contains("not found"))
  }

  test("a malformed table or mapping spec is a usage error (exit 2), " +
      "not a crash, and stores nothing") {
    val root = tempDir("graft-cli-bad").toString
    assert(Cli.run(List(root, "dataset", "add", "d1", "/tmp/x",
      "nation:n_name|region")) === 2)
    assert(Cli.run(List(root, "ssd", "add", "s1", "", "nation",
      "n_name=Place.name,n_nationkey")) === 2)
    assert(run(root, "dataset", "list").isEmpty)
    assert(run(root, "ssd", "list").isEmpty)
  }
}
