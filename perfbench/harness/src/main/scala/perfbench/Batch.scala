package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The cold batch workload: a fixed list of `SparkEntry.queries`, run
  * in order, each result fully materialized with a `noop` write. A pass
  * starts from no checkpoints ([[graft.core.Materialize.reset]]) and no
  * cached frames, so it pays every checkpoint build it needs. */
object Batch {

  /** The training-data pipeline's shared-checkpoint chains: d7 builds
    * the decontamination shingle and eval-gram checkpoints e2 reads
    * back, t14 builds the word-count checkpoint t16 reads back; plus one
    * similarity, one streaming and one join-bound relational query. */
  val corpus: Seq[String] = Seq(
    "d7_decontamination", "e2_corpus_card", "t14_bpe_pairs", "t16_oov_rate",
    "s2_ann_lsh", "st5_stream_decontaminate", "q5_nation_revenue")

  /** The engine module a query belongs to. */
  def layerOf(q: String): String =
    if (q.startsWith("st")) "streaming"
    else q.head match {
      case 'q' => "relational"
      case 'p' => "profile"
      case 't' => "text"
      case 'd' => "dedup"
      case 's' => "sim"
      case 'e' => "pipeline"
    }

  /** Row count and an order-insensitive content hash of a result.
    * Floating-point values are hashed at 9 significant digits so the
    * last-bit differences of re-ordered float sums do not count as a
    * change; maps are hashed as sorted entry arrays. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map(f =>
      normalize(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))
        .as("hash"))
  }

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("key"),
        normalize(e.getField("value"), vt).as("value"))))
    case StructType(fs) if needsNorm(dt) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** Materialize `df` with a `noop` write (`to` = None) or a parquet
    * write, returning (rows, hash) observed during that same write. */
  def materialize(df: DataFrame, to: Option[String] = None): (Long, Long) = {
    val obs = Observation("pb_check")
    val fps = fingerprint(df)
    val w = df.observe(obs, fps.head, fps.tail: _*).write.mode("overwrite")
    to match {
      case None => w.format("noop").save()
      case Some(dir) => w.parquet(dir)
    }
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  final case class Op(query: String, pass: Int, seconds: Double,
      rows: Long, hash: Long, ok: Boolean, error: Option[String])

  /** Start every pass from no checkpoints and no cached frames. */
  def coldStart(spark: SparkSession): Unit = {
    graft.core.Materialize.reset()
    graft.core.Caches.release(spark)
  }

  /** One cold pass over `qs`; each op is checked against `pins`. */
  def pass(spark: SparkSession, dir: String, qs: Seq[String], n: Int,
      pins: Pins, trace: Trace): Seq[Op] = {
    coldStart(spark)
    qs.map { q =>
      val t0 = System.nanoTime()
      val r =
        try Right(trace.span(layerOf(q)) {
          materialize(graft.SparkEntry.queries(q)(spark, dir))
        })
        catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val s = (System.nanoTime() - t0) / 1e9
      r match {
        case Right((rows, hash)) =>
          val bad = pins.check(q, rows, hash)
          bad.foreach(b => System.err.println(s"perfbench: $q pass $n: $b"))
          Op(q, n, s, rows, hash, bad.isEmpty, bad)
        case Left(err) =>
          System.err.println(s"perfbench: $q pass $n failed: $err")
          Op(q, n, s, -1, 0, ok = false, Some(err))
      }
    }
  }

  /** Kernel throughput for the traced `functions` layer: each native
    * expression applied to its sf0.1 input column, input materialized
    * first so only the kernel is timed; rows/s is the median of three. */
  def kernels(spark: SparkSession, dir: String, trace: Trace): Unit = {
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select(split(lower(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 5)
      .localCheckpoint()
    val shingled = docs
      .select(graft.functions.WordShingles.shingles(col("w"), 5).as("sh"))
      .localCheckpoint()
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
    val vecCol = emb.schema.fields
      .find(_.dataType.isInstanceOf[ArrayType]).map(_.name)
      .getOrElse(sys.error("embeddings has no vector column"))
    val vecs = emb.select(col(vecCol).cast("array<double>").as("v"))
      .localCheckpoint()
    val dims = vecs.head().getSeq[Double](0).size
    def rate(name: String, in: DataFrame, c: Column): Unit = {
      val n = in.count()
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        trace.span("functions") {
          in.select(c.as("k")).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      trace.extra.put(s"functions.${name}_rows_per_s", n / secs(1))
    }
    rate("word_shingles", docs, graft.functions.WordShingles.shingles(col("w"), 5))
    rate("minhash", shingled, graft.functions.MinHashSignature.minhash(col("sh"), 128))
    rate("band_keys", vecs,
      graft.functions.HyperplaneBandKeys.keys(col("v"), 6, 8, dims))
  }
}

/** Pinned results of the batch queries (`perfbench/pins.json`): row
  * count always, content hash when the query's result is stable. */
final class Pins(entries: Map[String, (Long, Option[Long])]) {
  def check(q: String, rows: Long, hash: Long): Option[String] =
    entries.get(q) match {
      case None => Some("no pin")
      case Some((r, _)) if r != rows => Some(s"rows $rows, pinned $r")
      case Some((_, Some(h))) if h != hash => Some(s"hash $hash, pinned $h")
      case _ => None
    }
}

object Pins {
  def load(path: String): Pins = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    import scala.jdk.CollectionConverters._
    new Pins(m.properties().asScala.map { e =>
      val v = e.getValue
      val h = v.get("hash")
      e.getKey -> (v.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asLong()))
    }.toMap)
  }
}
