package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM; `perfbench/run.py` builds the classes,
  * starts this main with a private temp dir, and prints the result.
  *
  * Usage: perfbench.Main --workload octopus|corpus --seed N
  *   --seconds S --trace 0|1 --data <sf dir> --run-dir <dir>
  *   --pins <pins.json>
  *   or:  perfbench.Main --pin-out <dir> --data <sf dir> --run-dir <dir>
  *
  * The last stdout line is one JSON object: correct, attempted, failed,
  * metrics (end-to-end with --trace 0, per-layer with --trace 1) and a
  * `record` of everything else the run measured. */
object Main {

  val Cores = 4
  val SetUps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        if (a.contains("pin-out")) pin(a("data"), a("run-dir"), a("pin-out"))
        else run(a("workload"), a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", a("data"), a("run-dir"), a("pins"))
        0
      } catch { case e: Throwable =>
        e.printStackTrace()
        1
      }
    System.out.flush()
    System.exit(code)
  }

  def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "6h")
      .config("spark.local.dir", s"$runDir/spark")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session readiness: one scan of the smallest input table. */
  def warmUp(spark: SparkSession, dir: String): Unit =
    graft.sources.Tables.table(spark, dir, "region").count()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank p90: (value, percentile, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 90, 0)
    else {
      val rank = math.ceil(0.9 * s.size).toInt
      (s(rank - 1), 90, s.size - rank)
    }
  }

  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Sample (`melt|…`) checkpoints built in this JVM so far. */
  def meltBuilds: Int =
    graft.core.Materialize.buildSeconds.keys.count(_.startsWith("melt|"))

  /** The checkpoints `Materialize` holds now: count, build seconds (a
    * nested build is also counted in the build that asked for it) and
    * bytes on disk. */
  def checkpoints(record: java.util.Map[String, Any], trace: Trace): Unit = {
    val builds = graft.core.Materialize.buildSeconds
    val mb = graft.core.Materialize.sizes.values.sum / (1024.0 * 1024.0)
    record.put("checkpoint_mb", mb)
    record.put("checkpoint_builds", builds.size)
    record.put("checkpoint_build_s", builds.values.sum)
    trace.extra.put("core.checkpoint_mb", mb)
    trace.extra.put("core.checkpoint_builds", builds.size.toDouble)
    trace.extra.put("core.checkpoint_build_s", builds.values.sum)
  }

  /** The traced `sources` span: one full scan of each input table. */
  def scan(spark: SparkSession, dir: String, tables: Seq[String], trace: Trace): Unit =
    trace.span("sources") {
      tables.foreach(t => graft.sources.Tables.table(spark, dir, t)
        .write.format("noop").mode("overwrite").save())
    }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      dir: String, runDir: String, pinsPath: String): Unit = {
    require(Seq("octopus", "corpus").contains(workload),
      s"unknown workload $workload")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val oct = new OctopusLoad(() => SparkSession.active, dir, seed)
    // set-up, repeated: the first includes JVM start, later ones rebuild
    // the session (and server) in the warm JVM; the median is reported
    var spark: SparkSession = null
    var trace: Trace = null
    val setUps = (1 to SetUps).map { k =>
      val t0 = System.nanoTime()
      spark = session(runDir)
      warmUp(spark, dir)
      // the batch's listener starts after its warm-up pass (below)
      trace = new Trace(spark.sparkContext,
        traced && k == SetUps && workload == "octopus")
      if (workload == "octopus") oct.setUp(trace, s"$runDir/store$k")
      val s =
        if (k == 1) (System.currentTimeMillis() - jvmStart) / 1e3
        else (System.nanoTime() - t0) / 1e9
      if (k < SetUps) { oct.tearDown(); spark.stop() }
      s
    }
    val record = new java.util.LinkedHashMap[String, Any]()
    record.put("workload", workload)
    record.put("setup_samples_s", setUps.asJava)
    record.put("spark", spark.version)
    record.put("scala", scala.util.Properties.versionNumberString)
    record.put("jdk", System.getProperty("java.version"))
    record.put("master", spark.sparkContext.master)
    record.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    record.put("xmx_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    record.put("data", dir)

    val e2e = new java.util.LinkedHashMap[String, Double]()
    e2e.put("setup_s", median(setUps))
    var attempted = 0
    var failed = 0

    if (workload == "octopus") {
      val (model, state, trainS) = oct.train()
      attempted += 1
      if (state != "Complete") failed += 1
      trace.addSelf("core", trainS)
      record.put("train_state", state)
      record.put("train_s", trainS)
      // one untimed predict on a set outside the sequence warms the
      // predict path's code before the clients start
      if (state == "Complete") oct.warmUpPredict(model)
      val closeWindow = trace.window("server")
      val buildsBefore = meltBuilds
      val loopStart = System.nanoTime()
      val reqs = if (state == "Complete") oct.loop(model, OctopusLoad.Clients, seconds) else Nil
      val loopEnd = if (reqs.isEmpty) System.nanoTime() else reqs.map(_.recv).max
      closeWindow()
      val ok = reqs.filter(_.status == 200)
      // repeated column sets must return identical labels
      val first = collection.mutable.Map[Seq[(String, Seq[String])], Map[String, String]]()
      val consistent = ok.map { r =>
        val set = oct.sequence(r.i)
        first.get(set) match {
          case Some(l) => l == r.labels
          case None => first(set) = r.labels; true
        }
      }
      attempted += reqs.size
      failed += reqs.count(_.status != 200) + consistent.count(!_)
      val labelled = ok.flatMap(_.labels.toSeq).filter { case (c, _) => OctopusLoad.truth.contains(c) }
      val accuracy =
        if (labelled.isEmpty) 0.0
        else labelled.count { case (c, l) => OctopusLoad.truth(c) == l }.toDouble / labelled.size
      val lat = ok.map(r => (r.recv - r.sent) / 1e9)
      val (t, pct, beyond) = tail(lat)
      // share of the loop's sample-checkpoint lookups that found one
      val hitRatio =
        if (reqs.isEmpty) 0.0
        else 1.0 - (meltBuilds - buildsBefore).toDouble / reqs.size
      e2e.put("batch_s", trainS)
      e2e.put("op_p50_s", median(lat))
      e2e.put("op_tail_s", t)
      e2e.put("op_per_s", ok.size / ((loopEnd - loopStart) / 1e9))
      record.put("requests", reqs.size)
      record.put("requests_ok", ok.size)
      record.put("inconsistent_repeats", consistent.count(!_))
      record.put("distinct_sets", ok.map(r => oct.sequence(r.i)).distinct.size)
      record.put("tail_percentile", pct)
      record.put("tail_samples_beyond", beyond)
      record.put("latency_samples", lat.size)
      record.put("latencies_s", lat.asJava)
      record.put("label_accuracy", accuracy)
      record.put("labelled_columns", labelled.size)
      record.put("checkpoint_hit_ratio", hitRatio)
      trace.extra.put("core.checkpoint_hit_ratio", hitRatio)
      checkpoints(record, trace)

      if (traced) {
        val (queue, service) = OctopusLoad.queueAndService(
          reqs.map(r => (oct.datasetOf(oct.sequence(r.i)), r.sent, r.recv)),
          oct.svc.predicts.asScala.toSeq)
        val total = reqs.map(r => (r.recv - r.sent) / 1e9).sum
        trace.addSelf("server", math.max(0.0, total - service - queue))
        trace.extra.put("server.queue_s", queue)
        // serial replay through the layer calls, from cold checkpoints;
        // its labels must equal the HTTP responses
        graft.core.Caches.release(spark)
        graft.core.Materialize.reset()
        val replay = new OctopusLoad.Replay(spark, dir, trace)
        val (m, align) = replay.train()
        val sets = ok.map(r => oct.sequence(r.i)).distinct.take(ReplaySets)
        sets.foreach { set =>
          attempted += 1
          val (labels, _) = replay.predict(m, align, set)
          if (labels != first(set)) {
            failed += 1
            System.err.println(s"perfbench: replay of $set gave $labels, HTTP gave ${first(set)}")
          }
        }
        record.put("replayed_sets", sets.size)
        scan(spark, dir, OctopusLoad.PoolTables :+ "documents", trace)
      }
      oct.tearDown()
    } else {
      val pins = Pins.load(pinsPath)
      val qs = Batch.corpus
      // the first pass also pays the cold JVM's JIT: it is checked like
      // every pass, reported in the record and left out of the metrics
      val warmUpPass = Batch.pass(spark, dir, qs, 0, pins, trace)
      trace = new Trace(spark.sparkContext, traced)
      val ops = collection.mutable.ArrayBuffer[Batch.Op]()
      val passes = collection.mutable.ArrayBuffer[Double]()
      val start = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
        val p0 = System.nanoTime()
        ops ++= Batch.pass(spark, dir, qs, passes.size + 1, pins, trace)
        passes += (System.nanoTime() - p0) / 1e9
      }
      attempted += warmUpPass.size + ops.size
      failed += (warmUpPass ++ ops).count(!_.ok)
      val lat = ops.map(_.seconds).toSeq
      val (t, pct, beyond) = tail(lat)
      e2e.put("batch_s", median(passes.toSeq))
      e2e.put("op_p50_s", median(lat))
      e2e.put("op_tail_s", t)
      e2e.put("op_per_s", ops.size / passes.sum)
      record.put("warmup_pass_s", warmUpPass.map(_.seconds).sum)
      record.put("passes_s", passes.asJava)
      record.put("queries", qs.asJava)
      record.put("tail_percentile", pct)
      record.put("tail_samples_beyond", beyond)
      record.put("latency_samples", lat.size)
      record.put("query_s", qs.map(q => q -> median(ops.filter(_.query == q).map(_.seconds).toSeq)).toMap.asJava)
      record.put("mismatches", (warmUpPass ++ ops).filter(!_.ok)
        .map(o => s"${o.query}#${o.pass}: ${o.error.getOrElse("")}").asJava)
      checkpoints(record, trace)
      if (traced) {
        scan(spark, dir, Seq("documents", "embeddings", "customer", "orders",
          "lineitem", "supplier", "nation", "region"), trace)
        Batch.kernels(spark, dir, trace)
      }
    }
    record.put("rss_peak_mb", rssPeakMb)

    val metrics = new java.util.LinkedHashMap[String, Any]()
    def put(name: String, v: Double, unit: String): Unit =
      metrics.put(name, Map("value" -> v, "unit" -> unit).asJava)
    if (traced) {
      trace.flush()
      trace.metrics.foreach { case (n, v, u) => put(n, v, u) }
      ExtraLayerMetrics.foreach { case (n, u) =>
        put(n, Option(trace.extra.get(n)).map(_.doubleValue).getOrElse(0.0), u)
      }
      record.put("traced_end_to_end", e2e)
      record.put("unattributed_jobs", trace.otherJobs)
      trace.stop()
    } else {
      E2EUnits.foreach { case (n, u) => put(n, e2e.get(n), u) }
    }
    spark.streams.active.foreach { q => q.stop(); q.awaitTermination() }
    spark.stop()
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("correct", failed == 0)
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("metrics", metrics)
    out.put("record", record)
    println(json.writeValueAsString(out))
  }

  /** Distinct column sets the traced octopus run replays serially. */
  val ReplaySets = 3

  val E2EUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "batch_s" -> "s", "op_p50_s" -> "s",
    "op_tail_s" -> "s", "op_per_s" -> "1/s")

  /** Per-layer metrics a workload measures itself; `core.tmp_left_mb`
    * and `trace.overhead_s` are added by run.py after the JVM exits. */
  val ExtraLayerMetrics: Seq[(String, String)] = Seq(
    "server.queue_s" -> "s",
    "core.checkpoint_builds" -> "count",
    "core.checkpoint_build_s" -> "s",
    "core.checkpoint_hit_ratio" -> "ratio",
    "core.checkpoint_mb" -> "MB",
    "functions.word_shingles_rows_per_s" -> "rows/s",
    "functions.minhash_rows_per_s" -> "rows/s",
    "functions.band_keys_rows_per_s" -> "rows/s")

  /** Check mode: every batch query, twice from cold checkpoints; the
    * first run's result is written as parquet under `out` for the DuckDB
    * comparison in pin.py, and (rows, hash) of both runs go to
    * `out/observed.json`. */
  def pin(dir: String, runDir: String, out: String): Unit = {
    val spark = session(runDir)
    val qs = Batch.corpus
    val runs = (1 to 2).map { k =>
      Batch.coldStart(spark)
      qs.map { q =>
        q -> Batch.materialize(graft.SparkEntry.queries(q)(spark, dir),
          if (k == 1) Some(s"$out/$q") else None)
      }.toMap
    }
    val res = qs.map { q =>
      q -> Map(
        "rows" -> runs(0)(q)._1, "hash" -> runs(0)(q)._2,
        "rows2" -> runs(1)(q)._1, "hash2" -> runs(1)(q)._2,
        "oracle" -> graft.SparkEntry.oracleSql.getOrElse(q, null)).asJava
    }.toMap.asJava
    Files.writeString(Paths.get(s"$out/observed.json"), json.writeValueAsString(res))
    spark.stop()
  }
}
