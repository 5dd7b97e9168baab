package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** Lifecycle for pipeline-stage caches that CANNOT be released in the
  * scope that creates them.
  *
  * Several queries persist an intermediate frame (a vocab count table,
  * a per-doc gram agg, an eval n-gram set) that is consumed both
  * eagerly (a scalar total / bloom sizing count) and by the LAZY frame
  * the query returns. A same-scope try/finally unpersist — the pattern
  * st5/st7 and the sim queries use, where every consumer runs inside
  * the scope — would force each downstream action to re-derive the
  * whole explode chain, defeating the persist. So these frames are
  * deliberately left cached and released at a coarser boundary:
  *
  *  - [[graft.Bench]] calls [[release]] between query groups, so no
  *    query is taxed by another group's cache memory;
  *  - [[GraftService]] counts its trains and predicts in flight and
  *    calls [[release]] when the last of them ends, so a long-lived
  *    server never accumulates cached frames until executor storage
  *    evicts them (LRU, so correctness is unaffected, but eviction
  *    churn is), and never sweeps a running unit's caches. Other
  *    long-lived sessions (specs, a REPL) should release at their own
  *    work boundaries.
  *
  * [[pipelineCache]] is a thin marker over `persist()` so every such
  * site is greppable and carries this contract, instead of each one
  * re-explaining the lifecycle in prose.
  */
object Caches {

  /** Persist a pipeline-stage frame whose consumers outlive the
    * enclosing builder scope; released by [[release]], not in-scope. */
  implicit class PipelineCacheOps[T](private val ds: Dataset[T]) {
    def pipelineCache(): Dataset[T] = ds.persist()
  }

  /** Best-effort recursive delete for SCRATCH dirs (per-call disk
    * checkpoints, temp sinks): failures are swallowed because scratch
    * reclamation must never fail the work that produced the result —
    * unlike GraftService's storage-layer delete, which throws because
    * a half-deleted model directory IS a correctness problem. */
  def deleteScratch(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    if (dir != null) rm(new java.io.File(dir))
  }

  /** Release every Spark-level cache, blocking until gone, so the next
    * unit of work isn't taxed by cache memory or async unpersist churn. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
