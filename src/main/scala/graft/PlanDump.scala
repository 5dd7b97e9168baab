package graft

import org.apache.spark.sql.functions._

/** Dev tool: write `.explain("formatted")` output for selected queries
  * to files (the plans/rNN before/after artifacts the optimization
  * rounds commit):
  *
  *   sbt "runMain graft.PlanDump <outDir> <name>..."
  *
  * Names are SparkEntry query names, plus the pseudo-entries
  * `d5_lsh_inner:<n>` — the d5/d9 LSH signature→candidate→rerank
  * pipeline at the band geometry a corpus of `n` vectors gets
  * (ndBitsFor/ndBandsFor), WITHOUT the Materialize checkpoint wrapper,
  * so the signature-build plan itself is visible instead of a
  * checkpoint scan — and `t20_induction_scan` (the frame
  * TextQueries.inducedMerges collects). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val (df, file) = name match {
        case s if s.startsWith("d5_lsh_inner:") =>
          val n = s.stripPrefix("d5_lsh_inner:").toLong
          val e = graft.sources.Tables.rebalance(
            graft.sources.Tables.table(spark, sfDir, "embeddings")
              .select(col("vec_id"),
                graft.text.Text.asDouble(col("embedding")).as("v")))
            .withColumn("nrm", graft.text.Text.norm(col("v")))
          (dedup.DedupQueries.embeddingPairsLsh(e, n), s"d5_lsh_inner_$n")
        case "t20_induction_scan" =>
          // t20/t21's corpus-sized cost, invisible in their query plans
          // (the merge list is a LocalTableScan by the time the query
          // frame exists)
          (graft.text.TextQueries.inductionShapes(spark, sfDir),
            "t20_induction_scan")
        case other =>
          (SparkEntry.queries(other)(spark, sfDir), other)
      }
      val sw = new java.io.StringWriter()
      Console.withOut(new java.io.PrintStream(new java.io.OutputStream {
        override def write(b: Int): Unit = sw.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          sw.write(new String(b, off, len, "UTF-8"))
      })) { df.explain("formatted") }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$file.txt"), sw.toString)
      println(s"PLANDUMP wrote $outDir/$file.txt")
    }
    spark.stop()
  }
}
