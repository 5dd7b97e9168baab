package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q32's bucketed two-level sweep vs brute-force dominance. */
class SkylineSpec extends SparkSpec {

  test("q32 skyline equals brute-force Pareto dominance at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        // NTZ vintage returns LocalDateTime — compare as epoch micros
        unix_micros(col("o_orderdate").cast("timestamp")).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expected = rows.filter { case (_, p, d) =>
      !rows.exists { case (_, ps, ds) =>
        ps >= p && ds <= d && (ps > p || ds < d)
      }
    }.map(_._1).toSet
    val got = graft.SparkEntry.queries("q32_skyline")(spark, sf)
      .collect().map(_.getAs[Long]("o_orderkey")).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.size < rows.length,
      "skyline is a proper non-empty subset")
  }

  test("q32 handles a constant-price table (one bucket, date decides)") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      (1L, 10L, "O", 500.0, ts("2024-01-03 00:00:00"), "1-URGENT"),
      (2L, 11L, "O", 500.0, ts("2024-01-01 00:00:00"), "1-URGENT"),
      (3L, 12L, "O", 500.0, ts("2024-01-02 00:00:00"), "1-URGENT"),
      (4L, 13L, "O", 500.0, ts("2024-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = tempDir("graft-q32").toString
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.SparkEntry.queries("q32_skyline")(spark, dir)
      .collect().map(_.getAs[Long]("o_orderkey")).toSet
    // equal price everywhere: only the earliest-date rows survive, and
    // BOTH ties survive (neither dominates the other)
    assert(got === Set(2L, 4L))
  }

  test("q32 on an empty table returns an empty skyline, no NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, String, Double,
      java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = tempDir("graft-q32e").toString
    empty.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(graft.SparkEntry.queries("q32_skyline")(spark, dir)
      .collect().isEmpty)
  }
}
