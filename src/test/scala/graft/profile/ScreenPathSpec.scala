package graft.profile

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Forces p12's scale branch (screen -> verify -> imply, gated behind
  * [[ProfileQueries.KeyScreenMinRows]] in production) onto a small
  * corpus engineered to exercise every stage, and asserts verdict
  * equality with the exact Expand path on the same data. Closes the
  * r12 verdict gap: before this spec, no committed check ever ran the
  * screened branch (oracle sf0.01, sweep, and QuantileSpec all sit
  * under the 1M-row gate), so a screen false-negative on a true key
  * could only be caught by uncommitted sf1/sf10 rehearsals.
  *
  * Corpus design (N rows, one per construct the branch must handle):
  *  - o_orderkey   = id                      -> true key: screen admits,
  *                                              verify proves, pairs
  *                                              containing it are IMPLIED
  *  - o_custkey    = 0 when id%100==0 else id -> ~99%-unique DECOY:
  *                                              screen must admit it
  *                                              (99% >> 60% frac), exact
  *                                              verify must reject it
  *  - o_totalprice = id when id%100==0 else 0 -> low-cardinality single
  *                                              (screen rejects), but
  *                                              (o_custkey,o_totalprice)
  *                                              is unique with NO unique
  *                                              member -> the one pair
  *                                              that takes the exact
  *                                              pair-verify stage
  *  - o_orderdate / o_orderstatus / o_orderpriority -> low-cardinality
  *                                              screen rejections
  */
class ScreenPathSpec extends SparkSpec {

  private val N = 5000L

  private def corpusDir(): String = {
    val df = spark.range(N).select(
      when(col("id") % 100 === 0, lit(0L)).otherwise(col("id"))
        .as("o_custkey"),
      concat(lit("2024-01-"), lpad((col("id") % 28 + 1).cast("string"),
        2, "0")).as("o_orderdate"),
      col("id").as("o_orderkey"),
      concat(lit("P"), (col("id") % 3).cast("string"))
        .as("o_orderpriority"),
      when(col("id") % 2 === 0, lit("O")).otherwise(lit("F"))
        .as("o_orderstatus"),
      when(col("id") % 100 === 0, col("id")).otherwise(lit(0L))
        .cast("double").as("o_totalprice"))
    val dir = tempDir("graft-p12").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def run(dir: String): Map[String, (Option[Long], Long, Long)] =
    graft.SparkEntry.queries("p12_key_discovery")(spark, dir)
      .collect().map { r =>
        r.getAs[String]("combo") ->
          (if (r.isNullAt(r.fieldIndex("n_distinct"))) None
           else Some(r.getAs[Long]("n_distinct")),
            r.getAs[Long]("is_unique"), r.getAs[Long]("is_minimal_unique"))
      }.toMap

  test("p12 screened branch matches the exact branch verdict-for-verdict " +
      "on a corpus with a key, a 99%-unique decoy, and an implied pair") {
    val dir = corpusDir()
    // sanity: the decoy really is screen-admissible but not a key
    // (otherwise this test wouldn't exercise the verify-reject stage)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val decoyDistinct =
      orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(decoyDistinct < N, "decoy must not be a key")
    assert(decoyDistinct * 100L >= N * ProfileQueries.KeyScreenFrac,
      "decoy must clear the screen fraction or the verify stage is idle")

    val exact = run(dir) // default gate: N << 1M -> exact Expand path
    // the gate is a parameter with a production default (no mutable
    // global to restore — parallel suites can't observe a forced gate)
    val screened = ProfileQueries.keyDiscovery(spark, dir, gateRows = 1L)
      .collect().map { r =>
        r.getAs[String]("combo") ->
          (if (r.isNullAt(r.fieldIndex("n_distinct"))) None
           else Some(r.getAs[Long]("n_distinct")),
            r.getAs[Long]("is_unique"), r.getAs[Long]("is_minimal_unique"))
      }.toMap

    // the contract: identical report rows — n_distinct exact-or-NULL,
    // is_unique, is_minimal_unique — regardless of path
    assert(screened.keySet === exact.keySet)
    exact.foreach { case (combo, v) =>
      assert(screened(combo) === v, s"path divergence at $combo")
    }

    // and the verdicts themselves are the engineered ones, so a bug
    // that broke BOTH paths identically still fails here
    assert(exact("o_orderkey") === (Some(N), 1L, 1L))
    assert(exact("o_custkey")._2 === 0L,
      "decoy admitted by the screen must be rejected by exact verify")
    assert(exact("o_custkey")._1 === None)
    // the no-unique-member unique pair: exact pair-verify stage
    assert(exact("o_custkey+o_totalprice") === (Some(N), 1L, 1L))
    // implied pairs: unique (n_distinct = n by set logic), never minimal
    exact.keys.filter(k => k.contains("+") && k.contains("o_orderkey"))
      .foreach { k =>
        assert(exact(k) === (Some(N), 1L, 0L), k)
        assert(screened(k) === (Some(N), 1L, 0L), k)
      }
    // screen-rejected low-cardinality singles
    Seq("o_orderdate", "o_orderstatus", "o_orderpriority",
      "o_totalprice").foreach { c =>
      assert(exact(c) === (None, 0L, 0L), c)
    }
  }
}
