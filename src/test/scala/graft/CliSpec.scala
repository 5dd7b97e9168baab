package graft

/** CLI transport: metadata commands (no Spark session needed) parse,
  * mutate the store, and emit one JSON object per line. Only the
  * train/predict guard test touches `spark`: it is the session
  * `LocalSpark.session()` would hand Cli in this JVM, so a command that
  * started (and then stopped) one would leave it stopped. */
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

  test("an empty dataset name or dir and a non-numeric id are usage " +
      "errors (exit 2), not a stored dataset or a crash") {
    val root = tempDir("graft-cli-args").toString
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val codes =
      try Seq(
        Cli.run(List(root, "dataset", "add", "", "", "nation:n_name")),
        Cli.run(List(root, "dataset", "add", "d1", " ", "nation:n_name")),
        Cli.run(List(root, "dataset", "get", "abc")),
        Cli.run(List(root, "dataset", "delete", "1x")))
      finally System.setErr(stderr)
    assert(codes === Seq(2, 2, 2, 2))
    assert(err.toString("UTF-8").linesIterator.toSeq === Seq(
      "name and dir must be non-empty", "name and dir must be non-empty",
      "ids must be integers", "ids must be integers"))
    assert(run(root, "dataset", "list").isEmpty)
  }

  test("train and predict check their ids, model and dataset, and owl " +
      "add its file, before any Spark session starts") {
    val live = spark
    val root = tempDir("graft-cli-nospark").toString
    run(root, "dataset", "add", "d1", "/tmp/x", "nation:n_name")
    run(root, "model", "add", "typer")
    val missing = s"$root/no-such.ttl"
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val (codes, out) =
      try (Seq(
        Cli.run(List(root, "model", "train", "1", "x")),
        Cli.run(List(root, "model", "predict", "1", "1")),
        Cli.run(List(root, "owl", "add", "o", "ttl", missing))),
        Seq(run(root, "model", "train", "9", "1"),
          run(root, "model", "predict", "1", "9")))
      finally System.setErr(stderr)
    assert(codes === Seq(2, 2, 2))
    assert(err.toString("UTF-8").linesIterator.toSeq === Seq(
      "ids must be integers", "model 1 is not trained (state=Untrained)",
      s"cannot read $missing"))
    assert(out === Seq(Seq("""{"error":"model 9 not found"}"""),
      Seq("""{"error":"dataset 9 not found"}""")))
    assert(run(root, "model", "state", "1") ===
      Seq("""{"id":1,"state":"Untrained"}"""))
    assert(!live.sparkContext.isStopped)
  }
}
