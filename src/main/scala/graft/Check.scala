package graft

/** Scale-leg invariant runner: engine-side replacement checks for the
  * queries whose DuckDB twins are out of contract at a given scale
  * (see d9's oracle note). `runMain graft.Check <sfDir> [check...]`
  * runs the named checks and prints one `CHECK <name> ...` line each
  * (violations=0 means consistent). DEFAULT is d9_consistency only —
  * the invariant a scale leg must always run; st_profile and
  * collect_ratio are opt-in DIAGNOSTICS (timing runs that materialize
  * queries several times over) and must be named explicitly. Each
  * diagnostic times the production entry points themselves; none
  * re-implements a query's stages. */
object Check {
  /** Every check this runner knows. AdversarialParitySpec resolves
    * sfExpectedMismatch reasons that cite a replacement check against
    * this set, so a renamed check can't orphan a register reason. */
  val KnownChecks: Set[String] = Set(
    "d9_consistency", "collect_ratio", "st_profile")
  /** The always-run scale-leg invariants; the rest are opt-in timing
    * diagnostics (see the Scaladoc above). */
  val DefaultChecks: Set[String] = Set("d9_consistency")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // args after the dir: check names, plus (for collect_ratio and
    // st_profile) an optional query-name filter — any arg matching a
    // SparkEntry query restricts the loop to those queries
    val (queryFilter, checkNames) =
      args.drop(1).partition(SparkEntry.queries.contains)
    val names = if (checkNames.nonEmpty) checkNames.toSet
      else if (queryFilter.nonEmpty) Set("collect_ratio")
      else DefaultChecks
    val unknown = names -- KnownChecks
    if (unknown.nonEmpty)
      System.err.println(
        s"[graft] unknown check(s) ignored: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = LocalSpark.session()
    // st_profile: where do the st-family's bench seconds actually go?
    // Runs each streaming query once (same entry point the bench
    // times) with a StreamingQueryListener attached and prints, per
    // micro-batch, Spark's own durationMs breakdown (addBatch = run
    // the batch plan, getBatch/latestOffset = source work, walCommit/
    // commitOffsets = checkpoint log fsyncs, queryPlanning = per-batch
    // planning) plus the wall time around the whole query. The
    // optimization-round diagnostic behind any st-overhead work: the
    // bench cost of an st query at sf0.1 is dominated by fixed
    // machinery, and this check names which piece.
    if (names("st_profile")) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryIdle(
            e: StreamingQueryListener.QueryIdleEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          def g(k: String): Long =
            Option(d.get(k)).map(_.longValue).getOrElse(-1L)
          lines.add(s"batch=${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${g("triggerExecution")} addBatch=${g("addBatch")} " +
            s"getBatch=${g("getBatch")} latestOffset=${g("latestOffset")} " +
            s"planning=${g("queryPlanning")} wal=${g("walCommit")} " +
            s"commit=${g("commitOffsets")}")
        }
      }
      spark.streams.addListener(listener)
      // st group selected BY NAME PREFIX, not position — appending a
      // new group to Bench.groups must not silently re-point this
      // diagnostic (r15 ADVICE); listener removal in finally so a
      // failing query can't leak it into the rest of the session
      val stNames = Bench.groups
        .find(g => g.nonEmpty && g.forall(_.startsWith("st")))
        .getOrElse(Seq.empty)
        .filter(n => queryFilter.isEmpty || queryFilter.contains(n))
      // two passes per query: pass 1 absorbs codegen/JIT cold cost,
      // pass 2 is the steady state the bench's median-of-3 reports
      try stNames.foreach { name =>
        (1 to 2).foreach { pass =>
          lines.clear()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // drain with a small grace period: progress events are async
          Thread.sleep(200)
          println(f"CHECK st_profile query=$name pass=$pass wall_s=$wall%.2f")
          lines.forEach(l => println(s"CHECK st_profile   $l"))
        }
      } finally spark.streams.removeListener(listener)
    }
    if (names("d9_consistency")) {
      val v = dedup.DedupQueries.embeddingClusterViolations(spark, dir)
      println(s"CHECK d9_consistency violations=$v")
    }
    // portfolio-wide count-vs-collect diagnostic (r14 verdict #3):
    // Bench drives queries via count(), which lets Catalyst prune any
    // column the final aggregate doesn't need — p16 measured 3.8x from
    // exactly that. One warm pass per query (absorbing the group's
    // one-time Materialize builds), then a timed count() and a timed
    // collect(), in Bench group order with Bench's group-boundary
    // cache release, printing one ratio line per query. The ratios
    // feed PERF.md's scale-extrapolation table; the bench contract
    // itself stays count() (uniform across rounds).
    if (names("collect_ratio")) {
      def time[A](f: => A): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      Bench.groups.foreach { group =>
        group.filter(SparkEntry.queries.contains)
          .filter(n => queryFilter.isEmpty || queryFilter.contains(n))
          .foreach { name =>
          val q = SparkEntry.queries(name)
          q(spark, dir).count()
          val tc = time(q(spark, dir).count())
          val tl = time(q(spark, dir).collect())
          println(f"CHECK collect_ratio query=$name count_s=$tc%.2f " +
            f"collect_s=$tl%.2f ratio_pct=${
              (tl / math.max(tc, 1e-9) * 100).round}")
        }
        core.Caches.release(spark)
      }
    }
    spark.stop()
  }
}
