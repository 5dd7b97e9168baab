package graft.matcher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Class-imbalance resampling over a labelled frame (reference matcher
  * train/ClassImbalanceResampler.scala:29-423). Strategies resize each
  * class to a target count (max/mean/median of class sizes).
  *
  * Scale note: the reference shuffles driver-held lists with seeded
  * Random. Here sampling is hash-ordered (`xxhash64(row-key, seed)`) —
  * deterministic for a given input and seed, independent of
  * partitioning, and fully distributed: downsampling takes the first n
  * rows in hash order, upsampling replicates rows round-robin via
  * `explode(sequence(...))`. Self-determinism (same input -> same
  * output) is the contract the reference's own tests assert
  * (SparkParallelSpec.scala:323-399); bit-compat with its Random is
  * neither possible nor required. */
object Resampler {

  sealed trait Strategy
  case object NoResampling extends Strategy
  case object UpsampleToMax extends Strategy
  case object ResampleToMean extends Strategy
  case object UpsampleToMean extends Strategy
  case object ResampleToMedian extends Strategy
  case object UpsampleToMedian extends Strategy
  /** Cap `unknown`-labelled rows at the number of known rows
    * (reference :381-392). */
  case object CapUnknownToHalf extends Strategy
  /** Cost-sensitive training: no resampling — imbalance is handled by
    * per-class training weights on the classifier instead (reference
    * declares the strategy but stubs it, ClassImbalanceResampler
    * .scala:409-411 "not available in Spark MlLib"; modern Spark has
    * `weightCol`, wired via [[FeaturesConfig.classWeights]] ->
    * [[SemanticTypeClassifier.train]]). */
  case object CostMatrix extends Strategy

  val DefaultSeed = 5123219L

  /** Resample `df` (must have `label` and a unique `col_name` row key)
    * so each class hits the strategy's target count. */
  def resample(df: DataFrame, strategy: Strategy,
      seed: Long = DefaultSeed): DataFrame = strategy match {
    case NoResampling | CostMatrix => df
    case CapUnknownToHalf =>
      val known = df.filter(col("label") =!= "unknown")
      val cap = known.count()
      // NOTE: the global (unpartitioned) window below is safe ONLY
      // because this operates on the labelled-COLUMN frame, which is
      // O(#columns); never reuse this shape on value-level data — it
      // funnels the whole frame through one task.
      val unknown = df.filter(col("label") === "unknown")
        .withColumn("h", xxhash64(col("col_name"), lit(seed)))
        .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rn") <= cap)
        .drop("h", "rn")
      known.unionByName(unknown)
    case s =>
      val counts = df.groupBy(col("label")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val sizes = counts.values.toSeq.sorted
      val target = s match {
        case UpsampleToMax => sizes.max
        case ResampleToMean | UpsampleToMean =>
          math.max(1L, sizes.sum / sizes.size)
        case ResampleToMedian | UpsampleToMedian =>
          // reference averages the two middle sizes for an even class
          // count (ClassImbalanceResampler median semantics)
          val n = sizes.size
          if (n % 2 == 1) sizes(n / 2)
          else (sizes(n / 2 - 1) + sizes(n / 2)) / 2
        case _ => sizes.max
      }
      val upOnly = s == UpsampleToMax || s == UpsampleToMean ||
        s == UpsampleToMedian
      resizeClasses(df, counts, target, upOnly, seed)
  }

  private def resizeClasses(df: DataFrame, counts: Map[String, Long],
      target: Long, upOnly: Boolean, seed: Long): DataFrame = {
    val w = Window.partitionBy(col("label"))
      .orderBy(xxhash64(col("col_name"), lit(seed)))
    val withRn = df.withColumn("rn", row_number().over(w))
    val countCol = coalesce(
      typedLit(counts).apply(col("label")), lit(1L))
    // keep: all rows when the class is small or we never downsample;
    // otherwise the first `target` rows in hash order
    val keep =
      if (upOnly) lit(true)
      else countCol <= target || col("rn") <= target
    // replicate small classes round-robin: target/c copies each, plus one
    // extra for the first target%c rows in hash order
    val copies =
      when(countCol >= target, lit(1L)).otherwise(
        floor(lit(target) / countCol) +
          when(col("rn") - 1 < lit(target) % countCol, 1L).otherwise(0L))
    withRn.filter(keep)
      .withColumn("copies", copies)
      .withColumn("copy", explode(sequence(lit(1L), col("copies"))))
      .drop("rn", "copies", "copy")
  }

  /** Reference bagging defaults (TrainingSettings.scala DefaultBagging). */
  val DefaultNumBags = 50
  val DefaultBagSize = 100

  /** Core bag sampler: for each column, emit `numBags` bags of exactly
    * `bagSize` values each, sampled deterministically (hash order over
    * (value, copy, bag) replaces the reference's per-bag seeded shuffle,
    * ClassImbalanceResampler.scala:186-205). Columns shorter than
    * `bagSize` are first filled by replicating their values — the
    * reference's sampling-with-replacement fill (:271-300, 342-351).
    * Input must be a bounded melt (S9).
    *
    * Shape (r16): ONE shuffle of the melt rows keyed by column, bags
    * generated group-locally. The previous form exploded copies × bags
    * FIRST (the m8 default: 50× the melt) and shuffled the inflated
    * row set into a rank window — the exact explode-before-shuffle
    * trap guide §3.3 names, measured as m8's single largest stage
    * (1.6–2.5 s of m8's 2.3–3.6 s at sf0.1). Here the shuffle carries
    * only the S9-bounded melt (≤ 4·SampleN rows per group — the bound
    * that makes a per-group array safe, the CC-driver-gate posture)
    * and each group emits its bags from one in-memory pass. Values are
    * BIT-IDENTICAL: the same xxhash64(value, copy, bag_id, seed) chain
    * (seed 42, null-skipping — replicated via the engine's own
    * XxHash64Function), the same (hash, value-binary) order with the
    * same bottom-`bagSize` cut (BagParitySpec pins old-vs-new equality;
    * the m4/m6/m7/m8 prediction pins guard it end-to-end). */
  private def bagExplode(melted: DataFrame, numBags: Int,
      bagSize: Int, seed: Long): DataFrame = {
    val spark = melted.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    melted.select(col("col_name"), col("value")).as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (cn: String, it: Iterator[(String, String)]) =>
        val vals = it.map(_._2).toArray
        val n = vals.length
        val copies =
          if (n >= bagSize) 1L
          else math.ceil(bagSize.toDouble / n).toLong
        // candidates = melt rows × copies, exactly the old explode;
        // precompute the hash chain prefix h(42 → value → copy) once
        // per candidate (null value skipped, the xxhash64 contract)
        val nc = n * copies.toInt
        val cand = new Array[UTF8String](nc)
        val pre = new Array[Long](nc)
        var j = 0
        var i = 0
        while (i < n) {
          val v = vals(i)
          val u = if (v == null) null else UTF8String.fromString(v)
          val hv =
            if (v == null) 42L
            else XxHash64Function.hash(u, StringType, 42L)
          var c = 1L
          while (c <= copies) {
            cand(j) = u
            pre(j) = XxHash64Function.hash(c, LongType, hv)
            c += 1L; j += 1
          }
          i += 1
        }
        val idx = new Array[Integer](nc)
        val take = math.min(bagSize, nc)
        (0L until numBags.toLong).iterator.flatMap { b =>
          val hs = new Array[Long](nc)
          var k = 0
          while (k < nc) {
            hs(k) = XxHash64Function.hash(seed, LongType,
              XxHash64Function.hash(b, LongType, pre(k)))
            idx(k) = k
            k += 1
          }
          // (hash asc, value binary asc nulls-first) — the window's
          // orderBy(xxhash64(...), value)
          java.util.Arrays.sort(idx, (x: Integer, y: Integer) => {
            val hc = java.lang.Long.compare(hs(x), hs(y))
            if (hc != 0) hc
            else {
              val a = cand(x); val bb = cand(y)
              if (a == null && bb == null) 0
              else if (a == null) -1
              else if (bb == null) 1
              else a.compareTo(bb)
            }
          })
          // strict emission: idx/hs are reused across bags, so the
          // rows must be materialized before the next bag re-sorts
          val out = new Array[(String, Long, String)](take)
          var r = 0
          while (r < take) {
            val u = cand(idx(r))
            out(r) = (cn, b, if (u == null) null else u.toString)
            r += 1
          }
          out.iterator
        }
      }
      .toDF("col_name", "bag_id", "value")
  }

  /** Prediction-path bagging (reference testBagging,
    * ClassImbalanceResampler.scala:271-300): `numBags` bags of `bagSize`
    * values per column. Returns (col_name, bag_id, value). */
  def assignBags(melted: DataFrame, numBags: Int = DefaultNumBags,
      bagSize: Int = DefaultBagSize, seed: Long = 501L): DataFrame =
    bagExplode(melted, numBags, bagSize, seed)
}
