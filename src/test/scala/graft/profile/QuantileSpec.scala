package graft.profile

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** p11's two-pass distributed selection vs a direct sort on the driver,
  * plus the constant-column short-circuit the bench tables never hit. */
class QuantileSpec extends SparkSpec {

  test("p11 matches driver-side sort selection on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("p11_quantile_profile")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Double]("q")) ->
        r.getAs[Double]("q_value")).toMap
    assert(out.size === ProfileQueries.CorrCols.size *
      ProfileQueries.QuantileQs.size)
    val li = graft.sources.Tables.table(spark, sf, "lineitem")
    ProfileQueries.CorrCols.foreach { c =>
      val vs = li.select(col(c).cast("double")).collect()
        .map(_.getDouble(0)).sorted
      ProfileQueries.QuantileQs.foreach { q =>
        val rank = math.ceil(q * vs.length).toLong
        val expected = vs(rank.toInt - 1)
        assert(out((c, q)) === expected, s"$c q=$q")
      }
    }
  }

  test("p12 key discovery: o_orderkey is the key; minimality excludes " +
      "pairs containing it") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("p12_key_discovery")(spark, sf)
      .collect().map { r =>
        r.getAs[String]("combo") ->
          (if (r.isNullAt(r.fieldIndex("n_distinct"))) None
           else Some(r.getAs[Long]("n_distinct")),
            r.getAs[Long]("is_unique"), r.getAs[Long]("is_minimal_unique"))
      }.toMap
    assert(out.size === ProfileQueries.KeyCols.size +
      ProfileQueries.KeyPairs.size)
    // the primary key is unique AND minimal
    assert(out("o_orderkey")._2 === 1L && out("o_orderkey")._3 === 1L)
    // any pair containing a unique single is unique but NOT minimal
    out.keys.filter(k => k.contains("+") && k.contains("o_orderkey"))
      .foreach { k =>
        assert(out(k)._2 === 1L && out(k)._3 === 0L, k)
      }
    // low-cardinality singles are not unique
    assert(out("o_orderstatus")._2 === 0L)
    assert(out("o_orderpriority")._2 === 0L)
    // proven keys report the exact count = row count; everything else
    // reports NULL (never an estimate)
    val total = graft.sources.Tables.table(spark, sf, "orders").count()
    out.foreach { case (k, (nd, uniq, _)) =>
      if (uniq === 1L) assert(nd === Some(total), k)
      else assert(nd === None, s"$k: non-key must report NULL n_distinct")
    }
    // recompute uniqueness exactly for every combo and compare verdicts
    val cols = ProfileQueries.KeyCols
    val orders = graft.sources.Tables.table(spark, sf, "orders")
    import org.apache.spark.sql.functions.{col, countDistinct}
    cols.foreach { c =>
      val exact = orders.select(countDistinct(col(c))).head().getLong(0)
      assert(out(c)._2 === (if (exact == total) 1L else 0L), c)
    }
    ProfileQueries.KeyPairs.foreach { case (i, j) =>
      val exact = orders
        .select(countDistinct(col(cols(i)), col(cols(j)))).head().getLong(0)
      assert(out(s"${cols(i)}+${cols(j)}")._2 ===
        (if (exact == total) 1L else 0L), s"${cols(i)}+${cols(j)}")
    }
  }

  test("p11 answers constant columns from pass-1 stats") {
    import spark.implicits._
    val rows = Seq(
      (1.0, 10.0, 5.0, 0.07), (3.0, 30.0, 1.0, 0.07),
      (2.0, 20.0, 4.0, 0.07), (5.0, 50.0, 2.0, 0.07),
      (4.0, 40.0, 3.0, 0.07))
      .toDF("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    val dir = tempDir("graft-p11").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.SparkEntry.queries("p11_quantile_profile")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Double]("q")) ->
        r.getAs[Double]("q_value")).toMap
    // constant column: every quantile is the constant
    ProfileQueries.QuantileQs.foreach(q => assert(out(("l_tax", q)) === 0.07))
    // 5 rows: ranks ceil(q*5) = 2, 3, 4, 5 -> values 2, 3, 4, 5
    assert(out(("l_discount", 0.25)) === 2.0)
    assert(out(("l_discount", 0.50)) === 3.0)
    assert(out(("l_discount", 0.75)) === 4.0)
    assert(out(("l_discount", 0.95)) === 5.0)
    assert(out(("l_extendedprice", 0.50)) === 30.0)
  }
}
