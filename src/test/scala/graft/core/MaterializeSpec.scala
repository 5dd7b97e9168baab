package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Direct contract tests for [[Materialize]] — the parquet-backed
  * compute-once layer every shared pipeline stage (d2 pairs, matcher
  * features, k-means/PQ codebooks) runs through. */
class MaterializeSpec extends SparkSpec {

  test("computes once; later calls read the materialized parquet back") {
    var computes = 0
    val key = s"spec-once-${System.nanoTime}"
    def frame = {
      computes += 1
      spark.range(10).toDF("id").withColumn("v", col("id") * 3)
    }
    val a = Materialize(spark, key)(frame)
    val b = Materialize(spark, key)(frame)
    assert(computes === 1, "second call must not recompute")
    assert(a.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      === b.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1))
    assert(b.count() === 10)
  }

  test("survives a full cache clear (the round-3 bench failure mode)") {
    val key = s"spec-cache-${System.nanoTime}"
    var computes = 0
    def frame = { computes += 1; spark.range(7).toDF("id") }
    Materialize(spark, key)(frame)
    spark.catalog.clearCache()
    assert(Materialize(spark, key)(frame).count() === 7)
    assert(computes === 1,
      "clearCache must not force recomputation — that is the point")
  }

  test("nested materialization is safe (regression: recursive update)") {
    // computeIfAbsent-based versions threw IllegalStateException when a
    // nested key hashed into the locked bin; two-phase get/putIfAbsent
    // must nest arbitrarily
    val t = System.nanoTime
    val out = Materialize(spark, s"spec-outer-$t") {
      val inner = Materialize(spark, s"spec-inner-$t") {
        spark.range(5).toDF("id")
      }
      inner.withColumn("x", col("id") * 2)
    }
    assert(out.count() === 5)
    assert(out.agg(sum(col("x"))).head().getLong(0) === 20L)
  }

  /** Wait (at most 30 s) until every thread in `ts` is parked — the
    * state a caller waiting on another caller's build is in. */
  private def awaitParked(ts: Seq[Thread]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!ts.forall(_.getState == Thread.State.WAITING) &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Directories under the checkpoint root (one per build attempt). */
  private def builtDirs: Set[String] = {
    val kids = new java.io.File(Materialize.root).list()
    if (kids == null) Set.empty else kids.toSet
  }

  test("single-flight: 8 concurrent callers of one key share one build") {
    val key = s"spec-flight-${System.nanoTime}"
    val computes = new java.util.concurrent.atomic.AtomicInteger
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[(Long, Long)]]()
    lazy val threads: Seq[Thread] = (0 until 8).map { i =>
      new Thread(() => {
        val df = Materialize(spark, key) {
          computes.incrementAndGet()
          // hold the build until every other caller is waiting on it; a
          // version without single-flight never parks them and computes
          // once per caller
          awaitParked(threads.filterNot(_ eq Thread.currentThread()))
          spark.range(20).toDF("id").withColumn("v", col("id") * 7)
        }
        results.put(i, df.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(computes.get === 1, "concurrent callers duplicated the build")
    assert(results.size === 8)
    val expected = (0L until 20L).map(i => (i, i * 7))
    (0 until 8).foreach(i => assert(results.get(i) === expected))
    assert(Materialize.buildSeconds.keys.count(_ == key) === 1)
  }

  test("a compute that throws mid-write fails every waiter and leaves " +
      "nothing behind; the next call rebuilds") {
    val key = s"spec-fail-${System.nanoTime}"
    val computes = new java.util.concurrent.atomic.AtomicInteger
    val before = builtDirs
    val boom = udf((i: Long) =>
      if (i == 900L) throw new IllegalStateException("boom mid-write") else i)
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    @volatile var waiter: Thread = null
    val building, waiterStarted = new CountDownLatch(1)
    def failing = {
      computes.incrementAndGet()
      building.countDown()
      // fail only once the second caller is waiting on this build
      assert(waiterStarted.await(60, TimeUnit.SECONDS))
      awaitParked(Seq(waiter))
      // three of four partitions write their files before the fourth
      // throws, so the job aborts with a half-written directory
      spark.range(0, 1000, 1, 4).toDF("id").withColumn("v", boom(col("id")))
    }
    val errors = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    def call(name: String): Thread = new Thread(() =>
      try Materialize(spark, key)(failing).collect(): Unit
      catch { case e: Throwable => errors.put(name, e) })
    val builder = call("builder")
    builder.start()
    assert(building.await(60, TimeUnit.SECONDS))
    waiter = call("waiter")
    waiter.start()
    waiterStarted.countDown()
    builder.join(120000); waiter.join(120000)
    assert(computes.get === 1, "the waiter ran its own build")
    assert(errors.containsKey("builder") && errors.containsKey("waiter"),
      s"both callers must see the failure, got ${errors.keySet}")
    assert(errors.get("waiter") eq errors.get("builder"),
      "the waiter must get the builder's own exception")
    assert(builtDirs === before, "the failed build left a directory")
    assert(!Materialize.sizes.contains(key) &&
      !Materialize.buildSeconds.contains(key), "the failed build left an entry")

    val again = Materialize(spark, key) {
      computes.incrementAndGet()
      spark.range(0, 1000, 1, 4).toDF("id").withColumn("v", col("id"))
    }
    assert(computes.get === 2 && again.count() === 1000)
  }
}
