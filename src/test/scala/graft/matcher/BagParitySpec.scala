package graft.matcher

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r16 group-local bag sampler to the explode-then-rank window
  * formulation it replaced: for any melt, `assignBags`
  * must emit EXACTLY the rows (as a multiset) of
  *   explode(copies) × explode(bags) →
  *   row_number over (col_name, bag_id) ordered by
  *   (xxhash64(value, copy, bag_id, seed), value) ≤ bagSize.
  * The fixture covers the cases where the two forms could diverge:
  * columns shorter than bagSize (replacement-fill copies > 1),
  * duplicate values (hash ties broken by identical rows), null values
  * (xxhash64's null-skip + nulls-first ordering), and non-ASCII values
  * (UTF8String binary order vs java String UTF-16 order). */
class BagParitySpec extends SparkSpec {

  private def oldBagExplode(melted: DataFrame, numBags: Int,
      bagSize: Int, seed: Long): DataFrame = {
    val nPer = melted.groupBy(col("col_name")).agg(count(lit(1)).as("n_col"))
    val withN = melted.join(broadcast(nPer), "col_name")
    val copies = when(col("n_col") >= bagSize, 1L)
      .otherwise(ceil(lit(bagSize).cast("double") / col("n_col")).cast("long"))
    val exploded = withN
      .withColumn("copy", explode(sequence(lit(1L), copies)))
      .withColumn("bag_id",
        explode(sequence(lit(0L), lit(numBags).cast("long") - 1L)))
    val w = Window.partitionBy(col("col_name"), col("bag_id"))
      .orderBy(
        xxhash64(col("value"), col("copy"), col("bag_id"), lit(seed)),
        col("value"))
    exploded.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bagSize)
      .select(col("col_name"), col("bag_id"), col("value"))
  }

  private def multiset(df: DataFrame): Map[(String, Long, String), Int] =
    df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap

  private def fixture: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val long = (1 to 240).map(i => ("t.long", s"v${rnd.nextInt(120)}"))
    val short = (1 to 7).map(i => ("t.short", s"s$i"))
    val dups = (1 to 60).map(_ => ("t.dups", "same")) ++
      (1 to 60).map(i => ("t.dups", s"d${i % 5}"))
    val nulls = (1 to 30).map(i =>
      ("t.nulls", if (i % 3 == 0) null else s"n$i"))
    val uni = Seq("t.uni" -> "éclair", "t.uni" -> "中文",
      "t.uni" -> "z😀", "t.uni" -> "Z", "t.uni" -> "az",
      "t.uni" -> "Å")
    (long ++ short ++ dups ++ nulls ++ uni).toDF("col_name", "value")
  }

  test("assignBags == explode-then-rank window form (multiset)") {
    val m = fixture
    val bagSize = 20
    for (numBags <- Seq(1, 7)) {
      val now = multiset(Resampler.assignBags(m, numBags, bagSize))
      val old = multiset(oldBagExplode(m, numBags, bagSize, 501L))
      assert(now === old, s"numBags=$numBags")
    }
  }

  test("every bag has exactly bagSize rows; bag ids dense") {
    val m = fixture
    val bags = Resampler.assignBags(m, numBags = 5, bagSize = 16)
    val sizes = bags.groupBy("col_name", "bag_id").count().collect()
    assert(sizes.forall(_.getLong(2) == 16L))
    assert(sizes.length == m.select("col_name").distinct().count() * 5)
  }
}
