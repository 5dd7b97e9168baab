package graft.dedup

import java.nio.charset.StandardCharsets

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The eval-set n-gram probe, size-gated between its two production
  * shapes. Every decontamination site (batch d7/d15, the e1/e2
  * pipeline stages, streaming st5/st10) needs "which training docs
  * share an n-gram with the eval set", and the right plan depends on
  * ONE number — the distinct eval gram count:
  *
  *  - **exact path** (eval set ≤ [[ExactMax]] grams): ship the gram
  *    strings themselves — a broadcast key-equality join batch-side, a
  *    collected [[graft.functions.SetMemberCount]] probe array
  *    stream-side. Real benchmark suites live here: they are
  *    authored, bounded artifacts, not corpus-proportional.
  *  - **bloom path** (above the gate): ship a [[BloomFilter]]
  *    (~9.6 bits/gram at [[BloomFpp]]) probed row-locally via the
  *    codegen'd [[graft.functions.BloomMemberCount]]; batch callers
  *    confirm the rare bloom hits with an exact key-equality join
  *    against the parquet-materialized gram set (no broadcast — the
  *    whole point is that this side is too big to ship), so the
  *    result stays EXACT at any scale. Stream callers cannot confirm
  *    without stateful aggregation, so above the gate their counts
  *    are bloom-estimated: never an undercount (no false negatives),
  *    overcounted on at most ~[[BloomFpp]] of probes — contamination
  *    flags err toward over-removal, the conservative direction for
  *    training-data hygiene, and batch d7/d15 refine exactly
  *    downstream.
  *
  * The gate is what keeps every executor-wide eval artifact
  * NON-corpus-proportional: at most [[ExactMax]] exact strings, else
  * a filter whose bits scale with the eval set, merged in parallel
  * (see [[bloomOf]]) rather than through one driver thread.
  */
object EvalGrams {

  /** Max distinct eval grams shipped executor-wide as exact strings.
    * ~4M grams ≈ a few hundred MB broadcast at typical shingle
    * lengths — the top of what a real benchmark suite produces and of
    * what an executor should hold per probe set. Above it only the
    * bloom path keeps broadcast memory bounded.
    *
    * The batch side ([[sharedCounts]]) returns the same rows on both
    * paths, so below the gate the exact broadcast join must earn its
    * place. Same-JVM A/B, 4 cores, `graft.ScaleUp` data, 6 alternating
    * pairs after one untimed run of each arm, upstream checkpoints
    * warm, full materialization, median [IQR] in s, rows equal in every
    * pair (e1 = the ledger build):
    *
    * | scale | query | exact | bloom | exact faster |
    * |---|---|---|---|---|
    * | sf0.1 | d7 | 0.569 [0.564–0.581] | 0.641 [0.624–0.671] | 6/6 |
    * | sf0.1 | e1 | 1.75 [1.68–1.81] | 1.80 [1.76–1.86] | 3/6 |
    * | sf0.1 | e2 | 1.06 [1.01–1.08] | 1.12 [1.12–1.18] | 5/6 |
    * | sf1 | d7 | 1.07 [1.01–1.15] | 1.20 [1.16–1.26] | 6/6 |
    * | sf1 | e1 | 11.5 [11.3–12.0] | 12.5 [12.0–13.3] | 5/6 |
    * | sf1 | e2 | 6.07 [5.99–6.16] | 6.28 [6.24–6.31] | 5/6 |
    *
    * The bloom path pays a filter build and a merge job before its
    * probe; exact wins by 0.07-1.0 s wherever the eval set fits. */
  final val ExactMax = 4L * 1000 * 1000

  /** False-positive rate of the bloom path's filter. */
  val BloomFpp: Double = 0.01

  /** Partitions the gram set is coalesced to before the partial-filter
    * build: each task builds ONE full-size filter, so this bounds both
    * transient build memory (tasks × filter bytes) and the partials
    * shipped to the merge. 16 keeps a 240M-gram rehearsal filter
    * (~290 MB) under 5 GB of total partial traffic while the per-task
    * put loop stays seconds-scale. */
  private val BloomBuildTasks = 16

  /** Gate decision, exposed for specs. */
  def useExact(nEval: Long, exactMax: Long = ExactMax): Boolean =
    nEval <= exactMax

  /** The most recent gate decision taken by [[sharedCounts]] /
    * [[rowProbe]] in this JVM, for rehearsal diagnosis: above the gate
    * a STREAM probe's counts are deliberate fpp-bounded overestimates,
    * so a parity mismatch there is expected divergence, not a
    * regression — but only if the run can tell which path it took.
    * Every decision is also logged to stderr (`[graft] EvalGrams …`).
    * Last-write-wins under concurrency; the log has the full record. */
  @volatile var lastDecision: Option[(String, String, Long)] = None

  private def decide(site: String, nEval: Long, exactMax: Long): Boolean = {
    val exact = useExact(nEval, exactMax)
    val path = if (exact) "exact" else "bloom"
    lastDecision = Some((site, path, nEval))
    System.err.println(
      s"[graft] EvalGrams $site: path=$path nEval=$nEval gate=$exactMax")
    exact
  }

  /** Build the eval-gram Bloom filter with a PARALLEL two-level merge.
    *
    * `stat.bloomFilter` funnels every per-task partial filter through
    * a single merger; when the filter is sized for a large eval set,
    * both the COUNT and the SIZE of those partials grow with the data
    * and the lone merge thread becomes the wall (measured 23.5× on the
    * sf100 decade as d15's only non-one-time super-linear term). Here
    * the gram set is coalesced to [[BloomBuildTasks]] partitions (one
    * partial each — bounding partial traffic at tasks × filter bytes)
    * and the partials meet in a depth-2 `treeReduce`, so no single
    * thread ever merges more than ~√tasks filters.
    *
    * Hash contract: grams are inserted via `putBinary` over UTF-8
    * bytes — exactly the bytes [[graft.functions.BloomMemberCount]]
    * probes with `mightContainBinary`. */
  def bloomOf(evalG: DataFrame, nEval: Long): Broadcast[BloomFilter] = {
    val sc = evalG.sparkSession.sparkContext
    val filter =
      // an explicitly-empty filter: BloomFilter over zero rows would
      // otherwise carry a null bit buffer that NPEs on probe
      if (nEval == 0L) BloomFilter.create(1000L, BloomFpp)
      else {
        val expected = math.max(1000L, nEval)
        evalG.select(col("g")).coalesce(BloomBuildTasks).rdd
          .mapPartitions { rows =>
            val f = BloomFilter.create(expected, BloomFpp)
            rows.foreach { r =>
              if (!r.isNullAt(0))
                f.putBinary(r.getString(0).getBytes(StandardCharsets.UTF_8))
            }
            Iterator.single(f)
          }
          .treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
      }
    sc.broadcast(filter)
  }

  /** Exact per-doc shared-gram counts `(doc_id, n)` (docs with n ≥ 1
    * only; callers left-join and coalesce to 0). `trainSh` is the
    * `(doc_id, sh)` shingled training side; `evalG` the distinct eval
    * gram set `(g)` — pass the MATERIALIZED artifact so the gate count
    * and the confirm join read parquet, not a recomputed explode.
    *
    * Result is identical on both paths: the bloom prefilter has no
    * false negatives and the exact confirm join removes its false
    * positives. Only the PLAN changes at the gate. */
  def sharedCounts(trainSh: DataFrame, evalG: DataFrame,
      exactMax: Long = ExactMax): DataFrame = {
    val nEval = evalG.count()
    if (decide("sharedCounts", nEval, exactMax)) {
      trainSh.select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(evalG), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"))
    } else bloomCounts(trainSh, evalG, nEval)
  }

  /** The bloom-prefilter + exact-confirm plan (d15's shape), exposed
    * so d15 — whose identity IS the scale path — can bypass the gate.
    * Clean docs (the vast majority) never leave their row: one
    * codegen'd probe loop and done; only bloom-hit docs explode into
    * the key-equality confirm join, which is deliberately NOT
    * broadcast-hinted (its eval side is the thing too big to ship —
    * AQE may still pick broadcast at test scale, a size-driven choice,
    * which is the point). */
  private[graft] def bloomCounts(trainSh: DataFrame, evalG: DataFrame,
      nEval: Long): DataFrame = {
    val bloom = bloomOf(evalG, nEval)
    trainSh
      .withColumn("bloom_hits",
        graft.functions.BloomMemberCount.countIn(col("sh"), bloom))
      .filter(col("bloom_hits") > 0L)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(evalG, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
  }

  /** Row-local probe column builder for STREAM sites (no stream-side
    * aggregation allowed, so no confirm join): below the gate an exact
    * collected-array [[graft.functions.SetMemberCount]] probe; above
    * it the bloom probe with the estimate semantics documented on the
    * object. Both actions (count, collect/build) complete before this
    * returns, so nothing stays cached. This gate is a result contract,
    * not a speed gate: above it the counts are bloom estimates, so the
    * arms' rows differ, and the exact sf0.01 twins hold only below it. */
  def rowProbe(evalG: DataFrame,
      exactMax: Long = ExactMax): Column => Column = {
    val sc = evalG.sparkSession.sparkContext
    val nEval = evalG.count()
    if (decide("rowProbe", nEval, exactMax)) {
      val bc = sc.broadcast(
        evalG.select(col("g")).collect().map(_.getString(0)))
      (sh: Column) => graft.functions.SetMemberCount.countIn(sh, bc)
    } else {
      val bloom = bloomOf(evalG, nEval)
      (sh: Column) => graft.functions.BloomMemberCount.countIn(sh, bloom)
    }
  }
}
