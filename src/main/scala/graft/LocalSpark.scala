package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for every `main` (Bench, Check, Verify,
  * Cli, Server, Explain, PlanDump, ArtifactSize, ScaleUp): local mode on
  * `SPARK_GRAFT_CPUS` cores (default 4), `SPARK_GRAFT_SHUFFLE_PARTITIONS`
  * shuffle partitions (default one per core), UTC session time zone, no
  * UI. A main that needs one more SQL conf sets it on the built session.
  *
  * The partition override exists for scale rehearsals: a real cluster
  * grows partition COUNT with data, which fixed-core local mode can't do
  * by itself. At sf100 a 32-partition shuffle puts ~100x the bytes in
  * one task's sort page (measured: 2 GiB page-allocation stalls), while
  * AQE coalesces an oversized partition count back down wherever stages
  * are small, so the override only affects the stages that need it. */
object LocalSpark {

  /** The session settings `env` selects — pure, so a spec can pin them
    * without building a second session in its JVM. A non-numeric or
    * non-positive count fails here, naming the variable, instead of as
    * Spark's "Could not parse Master URL". */
  private[graft] def settings(env: Map[String, String]): Map[String, String] = {
    val cpus = positiveInt(env, "SPARK_GRAFT_CPUS", 4)
    val parts = positiveInt(env, "SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // A main runs for minutes; the default 60s StateStore maintenance
      // tick serves long-lived streaming jobs (snapshot compaction), not
      // a bench, and its thread racing RpcEnv shutdown is what dumped a
      // stack trace into the r12 stdout tail after the summary line
      // (BENCH_r12.json "parsed": null). Park it beyond any plausible
      // run.
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "6h")
  }

  private def positiveInt(env: Map[String, String], name: String,
      default: Int): Int =
    env.get(name).fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(
          s"$name='$s' is not a positive integer"))
    }

  /** Build (or return the running) session from this process's env. */
  def session(): SparkSession = {
    val spark = SparkSession.builder().config(settings(sys.env)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
