package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicates an sf directory FACTOR
  * times with per-replica key offsets (the standard TPC-H scaling
  * trick) so join fan-outs and group cardinalities grow linearly and
  * the portfolio can be rehearsed at sf1 from the driver's sf0.1 data.
  *
  * Replica shaping choices (all deterministic, seed-free):
  *  - every key domain (custkey, orderkey, partkey, suppkey, doc_id,
  *    vec_id, event_id, user_id) is offset by replica * (max+1), so
  *    referential integrity holds within each replica and replicas
  *    never collide;
  *  - `documents.source` gets a per-replica suffix and the text gets a
  *    per-replica marker token spliced after every 3rd word. A plain
  *    10x copy would hand every doc nine near-identical twins — dedup
  *    pair counts would grow ~replica² and the rehearsal would measure
  *    the pathological corpus, not the operators. The marker kills
  *    cross-replica shingle overlap (≈0.17 word-3-gram Jaccard, below
  *    every dedup threshold) while planted near-dup pairs INSIDE a
  *    replica keep their high similarity (both sides get the same
  *    cadence). 10x data = more domains, the realistic 100-TB shape;
  *  - embeddings are cyclically shifted by the replica index, so
  *    cross-replica cosine is noise while within-replica planted
  *    near-dups are preserved exactly.
  *
  * Skew mode (`ScaleUp <src> <dst> <factor> skew`) reshapes the
  * replicas into the hot-key distribution a real web corpus has, so
  * the cap-guarded operators (d2/d4/d14/t8/t13/q20/st8 hot-bucket and
  * shard caps) can be rehearsed against the condition they exist for:
  *  - one HOT document source holds ~half the corpus (replicas
  *    factor/2.. get `source = "hot"`) — d4's (source, length-bucket)
  *    blocks and t8's per-source packing see one giant group;
  *  - every doc_id % 10 == 0 doc gets the SAME template text in every
  *    replica (no marker): ~10% of the corpus is one identical
  *    boilerplate cluster, so its shingles/minhash signatures/band
  *    keys form the Zipf head (d2/d14/st8 hot band buckets, t13
  *    boilerplate shingles, d1 one giant exact-dup group);
  *  - one hot event_type: replicas factor/2.. collapse event_type to
  *    'click', putting >50% of events on one group key (q20's salted
  *    agg, the st rollups).
  * Uniform mode stays byte-identical to the original generator.
  *
  * Constant-catalog mode (`constsrc`): like uniform but WITHOUT the
  * per-replica source suffix — documents keep the source catalog of
  * the input sf. The default suffix makes #sources grow by `factor`
  * per decade, which is a rehearsal artifact: a production corpus
  * grows rows per source, not sources. Operators whose state or
  * output is #sources-shaped (d19's pair matrix, the e-family
  * per-source reports) are measured against THIS mode for their
  * production-decade claims; text markers and key offsets are
  * unchanged, so dedup behavior stays the uniform corpus's.
  *
  * Usage: ScaleUp <srcSfDir> <dstDir> [factor=10] [skew|constsrc].
  * Refuses to write into /root/testdata (driver-owned, read-only).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "uniform"
    require(Set("uniform", "skew", "constsrc")(mode), s"unknown mode $mode")
    val skew = mode == "skew"
    val constSrc = mode == "constsrc"
    // factor 1 would make "replicas factor/2.." the WHOLE corpus —
    // 100% hot instead of the documented Zipf head
    require(!skew || factor >= 2, "skew mode needs factor >= 2")
    require(!dst.startsWith("/root/testdata"), "testdata is read-only")
    val spark = LocalSpark.session()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // the driver's sf layout is ONE parquet FILE per table (not a Spark
    // part-file directory) and the streaming source's pathGlobFilter
    // depends on that shape — write to a staging dir, then promote the
    // single part file to `<table>.parquet`
    def write(df: DataFrame, t: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val staging = s"$dst/.staging_$t"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $staging"))
      Files.createDirectories(Paths.get(dst))
      Files.move(part.toPath, Paths.get(s"$dst/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(staging).listFiles().foreach(_.delete())
      Files.delete(Paths.get(staging))
    }
    /** max+1 of a key column — the per-replica offset stride. */
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // dims are fixed vocabularies — copied, never replicated
    write(read("region"), "region")
    write(read("nation"), "nation")

    val cust = read("customer"); val cS = stride(cust, "c_custkey")
    val supp = read("supplier"); val sS = stride(supp, "s_suppkey")
    val part = read("part"); val pS = stride(part, "p_partkey")
    val ord = read("orders"); val oS = stride(ord, "o_orderkey")
    val li = read("lineitem")
    val ev = read("events")
    val eS = stride(ev, "event_id"); val uS = stride(ev, "user_id")
    val doc = read("documents"); val dS = stride(doc, "doc_id")
    val emb = read("embeddings"); val vS = stride(emb, "vec_id")

    def reps(f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionAll _)

    write(reps(i => cust.withColumn("c_custkey",
      col("c_custkey") + lit(i * cS))), "customer")
    write(reps(i => supp.withColumn("s_suppkey",
      col("s_suppkey") + lit(i * sS))), "supplier")
    write(reps(i => part.withColumn("p_partkey",
      col("p_partkey") + lit(i * pS))), "part")
    write(reps(i => ord
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oS))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cS))), "orders")
    write(reps(i => li
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oS))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pS))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sS))), "lineitem")
    write(reps { i =>
      val base = ev
        .withColumn("event_id", col("event_id") + lit(i * eS))
        .withColumn("user_id", col("user_id") + lit(i * uS))
      if (skew && i >= factor / 2)
        base.withColumn("event_type", lit("click")) // the hot key
      else base
    }, "events")

    // skew mode's shared boilerplate: the SAME text in every replica,
    // long enough to clear min-length gates and produce full shingle /
    // signature sets (the Zipf head every hot-bucket cap guards)
    val template = ("spark scale corpus template sentence with common " +
      "filter join group window order select table row data stream " +
      "batch shuffle partition broadcast hash sort merge agg ") * 3

    write(reps { i =>
      val keyed = doc.withColumn("doc_id", col("doc_id") + lit(i * dS))
      val base = if (i == 0) keyed else keyed
        .withColumn("source",
          if (constSrc) col("source")
          else concat(col("source"), lit(s"_r$i")))
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '),
             (w, j) -> CASE WHEN j % 3 = 2 THEN concat(w, ' zq$i')
                       ELSE w END), ' ')"""))
        .withColumn("n_chars", length(col("text")).cast("long"))
      if (!skew) base
      else base
        .withColumn("text",
          when(col("doc_id") % 10 === 0, lit(template)).otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source",
          if (i >= factor / 2) lit("hot") else col("source"))
    }, "documents")

    write(reps { i =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(i * vS))
      if (i == 0) base else base.withColumn("embedding", expr(
        s"""concat(slice(embedding, ${i + 1}, size(embedding) - $i),
            slice(embedding, 1, $i))"""))
    }, "embeddings")

    println(s"""{"scaled":"$src","to":"$dst","factor":$factor}""")
    spark.stop()
  }
}
