package graft.profile

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** p16 approximate FDs: hand-computed g3 errors on a fixture orders
  * table, plus the structural invariants every pair must satisfy. */
class ApproxFdSpec extends SparkSpec {

  // 10 rows. o_orderkey unique (every FD from it exact). o_custkey ->
  // o_orderstatus is dirty in exactly one row: custkey 1 carries
  // status "O" three times and "F" once (keep 3, drop 1); custkeys 2/3
  // are clean. g3 = (10 - 9) / 10 = 0.1 -> 100000 micro.
  // o_orderpriority is constant, so every X -> o_orderpriority is
  // exact; o_orderstatus -> o_custkey is heavily violated.
  private lazy val dir: String = {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01", 101L, "P0", "O", 10.0),
      (1L, "2024-01-02", 102L, "P0", "O", 11.0),
      (1L, "2024-01-03", 103L, "P0", "O", 12.0),
      (1L, "2024-01-04", 104L, "P0", "F", 13.0),
      (2L, "2024-01-05", 105L, "P0", "F", 14.0),
      (2L, "2024-01-06", 106L, "P0", "F", 15.0),
      (2L, "2024-01-07", 107L, "P0", "F", 16.0),
      (3L, "2024-01-08", 108L, "P0", "O", 17.0),
      (3L, "2024-01-09", 109L, "P0", "O", 18.0),
      (3L, "2024-01-10", 110L, "P0", "O", 19.0))
      .toDF("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
    val d = tempDir("graft-p16").toString
    rows.coalesce(1).write.mode("overwrite").parquet(s"$d/orders.parquet")
    d
  }

  test("p16: hand-computed g3 errors and exact/approx flags") {
    val out = graft.SparkEntry.queries("p16_approx_fds")(spark, dir)
      .collect().map { r =>
        (r.getAs[String]("det_col"), r.getAs[String]("dep_col")) ->
          (r.getAs[Long]("n_groups"), r.getAs[Long]("n_keep"),
            r.getAs[Long]("n_rows"), r.getAs[Long]("g3_error_micro"),
            r.getAs[Long]("holds_exact"), r.getAs[Long]("holds_approx"))
      }.toMap
    val cols = ProfileQueries.KeyCols
    assert(out.size === cols.size * (cols.size - 1))

    // the engineered dirty pair: one row of ten must go
    assert(out(("orders.o_custkey", "orders.o_orderstatus")) ===
      ((3L, 9L, 10L, 100000L, 0L, 0L)))
    // its reverse: status O covers custkeys {1x3, 3x3} -> keep 3;
    // status F covers {1x1, 2x3} -> keep 3; g3 = (10-6)/10 = 0.4
    assert(out(("orders.o_orderstatus", "orders.o_custkey")) ===
      ((2L, 6L, 10L, 400000L, 0L, 0L)))
    // key determinant: everything from o_orderkey is exact
    cols.filterNot(_ == "o_orderkey").foreach { dep =>
      val v = out(("orders.o_orderkey", s"orders.$dep"))
      assert(v._1 === 10L && v._4 === 0L && v._5 === 1L && v._6 === 1L,
        s"o_orderkey -> $dep must hold exactly: $v")
    }
    // constant dependent: everything -> o_orderpriority is exact
    cols.filterNot(_ == "o_orderpriority").foreach { det =>
      assert(out((s"orders.$det", "orders.o_orderpriority"))._5 === 1L, det)
    }
    // invariants: n_rows constant, keep <= rows, error in [0, 1e6),
    // exact implies approx, and g3 = (n_rows - n_keep) / n_rows
    out.foreach { case (k, (g, keep, n, err, ex, ap)) =>
      assert(n === 10L, k)
      assert(keep >= g && keep <= n, k) // each group keeps >= 1 row
      assert(err === (n - keep) * 1000000L / n, k)
      assert(ex <= ap, s"$k: exact FDs are approximate FDs")
    }
  }
}
