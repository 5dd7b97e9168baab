package graft

/** Dev tool: print formatted physical plans for selected queries so the
  * shuffle/broadcast/pushdown structure can be audited (run:
  * `sbt "runMain graft.Explain q5_nation_revenue ..."`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // the default 4 cores / 4 partitions are what the specs' session
    // plans with, so `counts` reproduces GlobalPlanSpec's budgets
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    // `counts` mode: one line per query with its shuffle/broadcast
    // operator counts from the initial physical plan — the generator
    // for GlobalPlanSpec's pinned shuffle budgets
    if (args.headOption.contains("counts")) {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        val (s, b) = Explain.exchangeCounts(fn(spark, sfDir))
        println(s"""COUNT $n shuffles=$s broadcasts=$b""")
      }
      spark.stop(); return
    }
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q5_nation_revenue")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** (shuffle exchanges, broadcast exchanges) in a frame's initial
    * physical plan. */
  def exchangeCounts(df: org.apache.spark.sql.DataFrame): (Int, Int) =
    exchangeCounts(df.queryExecution.executedPlan.toString)

  /** Same, from an already-rendered plan string (lets plan-invariant
    * specs share one planning sweep across several gates). Node names
    * are matched EXACTLY via word boundaries: a bare `Exchange` node is
    * a shuffle; `BroadcastExchange` is a broadcast; `ReusedExchange`
    * (including one reusing a broadcast) is NEITHER — reuse means no
    * extra exchange runs, so counting it as a shuffle would make a
    * plan that gains exchange reuse look like a budget breach. */
  def exchangeCounts(plan: String): (Int, Int) = {
    // Spark renders a reuse node WITH the description of the exchange
    // it reuses on the same line ("ReusedExchange [...], Exchange
    // hashpartitioning(...)" / "..., BroadcastExchange HashedRelation
    // ..."), so the embedded name would be counted as if the exchange
    // ran again. Drop ReusedExchange lines wholesale before counting.
    val own = plan.linesIterator
      .filterNot(_.contains("ReusedExchange")).mkString("\n")
    val broadcasts = """\bBroadcastExchange\b""".r.findAllIn(own).size
    val shuffles = """\bExchange\b""".r.findAllIn(own).size
    (shuffles, broadcasts)
  }
}
