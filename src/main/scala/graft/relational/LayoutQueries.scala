package graft.relational

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.sources.Tables

/** Storage-layout operators — the two physical-design moves that matter
  * most at 100 TB, exercised end to end (write the layout, read through
  * it, produce an oracle-checked result):
  *
  *  - q25: bucketed co-located join. orders and lineitem are written
  *    bucketed (and sorted) on the join key; the join then reads
  *    bucket i against bucket i with NO shuffle of either fact table —
  *    the layout prepays the exchange once at write time, every
  *    subsequent join is exchange-free. `PlanShapeSpec` asserts the
  *    plan property (no ShuffleExchange with broadcast disabled).
  *  - q26: partition-pruned scan. orders is written partitioned by
  *    month; a month-filtered read touches exactly one directory —
  *    `PlanShapeSpec` asserts the scan's PartitionFilters — which is
  *    the difference between scanning 1/84th and scanning everything.
  *
  * Results are pure relational facts, so both queries have plain DuckDB
  * oracle twins on the unpartitioned source tables: the layout must not
  * change any answer, only the plan.
  */
object LayoutQueries {

  val Buckets = 8
  val PruneMonth = "1995-03"

  private val built = new ConcurrentHashMap[String, String]()

  private def ident(dir: String): String =
    math.abs(dir.hashCode).toString

  /** The layout dir built under `key`, building it with `write` when
    * absent or when [[graft.core.Materialize.reset]] deleted it. */
  private def layout(key: String)(write: String => Unit): String =
    built.compute(key, (_, old) =>
      if (old != null && new java.io.File(old).isDirectory) old
      else {
        val root = graft.core.Materialize.scratchDir()
        write(root)
        root
      })

  /** Write the bucketed twin tables once per JVM per sf dir; returns the
    * (orders, lineitem) catalog table names. Bucket metadata lives in
    * the session catalog, so this also registers the tables. */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val id = ident(dir)
    val (ot, lt) = (s"orders_b_$id", s"lineitem_b_$id")
    layout(s"bucketed|$dir") { root =>
      Tables.table(s, dir, "orders")
        .write.bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders").mode("overwrite").saveAsTable(ot)
      Tables.table(s, dir, "lineitem")
        .write.bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem").mode("overwrite").saveAsTable(lt)
    }
    (ot, lt)
  }

  /** Write the month-partitioned orders layout once per JVM per sf dir;
    * returns its path. */
  def partitionedOrders(s: SparkSession, dir: String): String =
    layout(s"partitioned|$dir") { root =>
      Tables.table(s, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.partitionBy("o_month").mode("overwrite").parquet(root)
    }

  private def money(c: org.apache.spark.sql.Column) =
    round(sum(c.cast(DecimalType(25, 6))).cast("double"), 2)

  val defs: Map[String, QueryDef] = Map(

    // ---- q25: revenue per order priority through the bucketed join
    "q25_bucketed_join" -> QueryDef(
      (s, dir) => {
        val (ot, lt) = bucketedTables(s, dir)
        s.table(ot).join(s.table(lt),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            money(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
          round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(25,6))) AS DOUBLE), 2) AS revenue,
          count(*) AS n_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q26: one month's order stats through the partitioned layout
    "q26_partition_pruned" -> QueryDef(
      (s, dir) => {
        val p = partitionedOrders(s, dir)
        s.read.parquet(p)
          .filter(col("o_month") === PruneMonth)
          .groupBy(col("o_orderstatus"))
          .agg(money(col("o_totalprice")).as("sum_price"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus,
          round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE), 2)
            AS sum_price,
          count(*) AS n_orders
        FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '$PruneMonth'
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""))
  )
}
