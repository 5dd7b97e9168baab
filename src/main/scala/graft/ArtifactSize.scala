package graft

/** Dev tool: build the d2 index-family artifacts and print their
  * on-disk parquet bytes (`sbt "runMain graft.ArtifactSize [sfDir]"`) —
  * the measurement harness for index-narrowing work (band keys as
  * binary(16), signatures as int32). */
object ArtifactSize {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val nSig = graft.dedup.DedupQueries.signatures(spark, sfDir).count()
    val nBand = graft.dedup.DedupQueries.cappedBanded(spark, sfDir).count()
    val nPair = graft.dedup.DedupQueries.minhashPairs(spark, sfDir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val sizes = graft.core.Materialize.sizes.toSeq.sortBy(_._1)
    sizes.foreach { case (k, b) => println(f"ARTIFACT $k%-40s $b%12d B") }
    println(f"ROWS sigs=$nSig banded=$nBand pairs=$nPair " +
      f"build=$secs%.1f s total=${sizes.map(_._2).sum}%d B")
    spark.stop()
  }
}
