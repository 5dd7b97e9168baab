package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table catalog over a scale-factor directory (see TESTDATA.md).
  *
  * Scans stay declarative (`spark.read.parquet`) so Catalyst pushes filters
  * and prunes columns at the source — the Spark-native replacement for the
  * reference's hand-rolled loaders (reference: matcher CsvDataLoader.scala:42-111).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize the events `ts` column to TimestampType across every data
    * vintage the generator has shipped — the ONE dispatch site shared by
    * the batch catalog (above) and the streaming source
    * ([[graft.streaming.StreamingQueries]]), so a new vintage can't be
    * handled in one path and missed in the other:
    *  - parquet TIMESTAMP(NANOS): Spark has no native type for it, so
    *    (under `nanosAsLong`) it arrives as a nanosecond long and is
    *    narrowed to micros;
    *  - plain TIMESTAMP: already the session-zoned type — pass through;
    *  - TIMESTAMP(MICROS) without zone: arrives as TIMESTAMP_NTZ and is
    *    value-preservingly cast under the pinned UTC session timezone.
    * Anything else (e.g. a string/double column from a malformed
    * generator run) fails LOUDLY here instead of silently casting to
    * null timestamps downstream. */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported parquet type ${other.simpleString}: " +
          "expected TIMESTAMP(NANOS)-as-long, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** Rebalance a frame to full parallelism IF its scan yields fewer
    * partitions than cores — the small-input guard for expensive
    * interpreted projections (higher-order functions don't participate
    * in whole-stage codegen, so a shingle/melt pass over a one-split
    * file would otherwise run on one task). At production scale the
    * input arrives in many splits and this is a no-op — the condition
    * makes the rebalance shuffle small-input-only by construction. */
  def rebalance(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Compressed on-disk bytes of `<dir>/<name>.parquet` (a file or a
    * directory of part files) — a size probe that starts no Spark job.
    * Long.MaxValue when unreadable, so an unprobeable table (object
    * store, remote FS) is treated as large. */
  def fileBytes(dir: String, name: String): Long =
    try {
      val p = java.nio.file.Paths.get(dir, s"$name.parquet")
      if (java.nio.file.Files.isDirectory(p)) {
        // Files.list must be closed — it holds a directory handle
        val ls = java.nio.file.Files.list(p)
        try ls.mapToLong(f =>
          try java.nio.file.Files.size(f) catch { case _: Exception => 0L })
          .sum()
        finally ls.close()
      } else java.nio.file.Files.size(p)
    } catch { case _: Exception => Long.MaxValue }

  /** All tables as a name->DataFrame map. */
  def all(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map(n => n -> table(spark, dir, n)).toMap

  /** Register every table as a temp view so `spark.sql` works against it. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** Long-format column view: melt selected columns of `df` into
    * (col_name, value-as-string) rows. This is the Spark-native
    * replacement for the reference's column-oriented `Attribute.values`
    * (reference: matcher DataModel.scala:89-111) — one distributed table
    * instead of driver-held per-column lists, so profiling any number of
    * columns is a single shuffle regardless of data size.
    */
  def melt(df: DataFrame, cols: Seq[String]): DataFrame = {
    val parts = cols
      .map(c => s"'$c', cast(`$c` as string)")
      .mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $parts) as (col_name, value)")
  }
}
