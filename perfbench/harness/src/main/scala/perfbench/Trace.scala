package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-layer spans and Spark job attribution for the traced run.
  *
  * A layer is a `src/main` module of the engine. [[span]] brackets a call
  * into one layer from the benchmark's own code: it sets a job group
  * `pb|<layer>|<n>` on the calling thread, so every Spark job the call
  * submits carries the layer, and it keeps a per-thread span stack so a
  * layer's self time is its span time minus its child spans. Checkpoint
  * builds ([[graft.core.Materialize]]) run inside the calling layer's
  * span and count there; `Materialize.buildSeconds` reports them
  * separately. Jobs that carry no benchmark group (streaming
  * micro-batches run under the query's own group; pool threads may carry
  * none) go to the innermost span or window open when the job was
  * submitted.
  *
  * With tracing off, [[span]] runs its body and records nothing, and no
  * listener is registered. Everything here uses public Spark APIs. */
final class Trace(sc: SparkContext, val on: Boolean) {
  import Trace._

  private final class Acc {
    val selfNs, jobs, tasks, cpuNs, shuffleBytes, spillBytes, failed =
      new AtomicLong
  }
  private val acc: Map[String, Acc] =
    (Layers :+ Other).map(_ -> new Acc).toMap

  /** Extra per-layer values a workload measures itself
    * (`server.queue_s`, `functions.*_rows_per_s`, ...). */
  val extra = new ConcurrentHashMap[String, java.lang.Double]()

  private final class Frame(val layer: String, val group: String) {
    var childNs = 0L
  }
  private val frames = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }
  private val ids = new AtomicInteger

  // (start ms, end ms, layer) of every span, for jobs without a group
  private val windows = new java.util.concurrent.ConcurrentLinkedDeque[(Long, Array[Long], String)]()

  /** Run `body` as a call into `layer`. */
  def span[A](layer: String)(body: => A): A =
    if (!on) body
    else {
      require(acc.contains(layer), s"unknown layer $layer")
      val stack = frames.get
      val f = new Frame(layer, s"pb|$layer|${ids.incrementAndGet()}")
      frames.set(f :: stack)
      val close = window(layer)
      sc.setJobGroup(f.group, layer, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        close()
        acc(layer).selfNs.addAndGet(dur - f.childNs)
        frames.set(stack)
        stack match {
          case p :: _ =>
            p.childNs += dur
            sc.setJobGroup(p.group, p.layer, interruptOnCancel = false)
          case Nil => sc.clearJobGroup()
        }
      }
    }

  /** Charge `seconds` of wall time measured outside [[span]] to `layer`
    * (the HTTP request time around the service calls). */
  def addSelf(layer: String, seconds: Double): Unit =
    if (on) acc(layer).selfNs.addAndGet((seconds * 1e9).toLong)

  /** Open a window: jobs without a benchmark group submitted until the
    * returned closer runs are charged to `layer`. */
  def window(layer: String): () => Unit = {
    val end = Array(Long.MaxValue)
    if (on) windows.add((System.currentTimeMillis(), end, layer))
    () => end(0) = System.currentTimeMillis()
  }

  private def windowAt(t: Long): String = {
    var best: (Long, Array[Long], String) = null
    val it = windows.iterator()
    while (it.hasNext) {
      val w = it.next()
      if (w._1 <= t && t <= w._2(0) && (best == null || w._1 >= best._1))
        best = w
    }
    if (best == null) Other else best._3
  }

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val flushed = new ConcurrentHashMap[String, java.lang.Boolean]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val group = prop("spark.jobGroup.id")
      val layer =
        if (group != null && group.startsWith("pb|flush|")) group
        else if (group != null && group.startsWith("pb|")) group.split('|')(1)
        else windowAt(e.time)
      e.stageIds.foreach(s => stageLayer.put(s, layer))
      acc.get(layer).foreach(_.jobs.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val layer = stageLayer.getOrDefault(e.stageId, Other)
      if (layer.startsWith("pb|flush|")) flushed.put(layer, true)
      acc.get(layer).foreach { a =>
        a.tasks.incrementAndGet()
        if (e.reason != org.apache.spark.Success) a.failed.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs.addAndGet(m.executorCpuTime)
          a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          a.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    }
  }
  if (on) sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far: a
    * one-task sentinel job is submitted and its task end awaited (the
    * listener queue delivers events in order). */
  def flush(): Unit = if (on) {
    val g = s"pb|flush|${ids.incrementAndGet()}"
    sc.setJobGroup(g, "flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!flushed.containsKey(g) && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (!flushed.containsKey(g))
      throw new IllegalStateException("listener did not drain in 30 s")
  }

  def stop(): Unit = if (on) sc.removeSparkListener(listener)

  /** Every per-layer metric: (name, value, unit). */
  def metrics: Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    Layers.flatMap { l =>
      val a = acc(l)
      Seq(
        (s"$l.self_s", a.selfNs.get / 1e9, "s"),
        (s"$l.jobs", a.jobs.get.toDouble, "count"),
        (s"$l.tasks", a.tasks.get.toDouble, "count"),
        (s"$l.task_cpu_s", a.cpuNs.get / 1e9, "s"),
        (s"$l.shuffle_mb", a.shuffleBytes.get / mb, "MB"),
        (s"$l.spill_mb", a.spillBytes.get / mb, "MB"),
        (s"$l.failed_tasks", a.failed.get.toDouble, "count"))
    }
  }

  /** Jobs no span or window claimed (reported in the record only). */
  def otherJobs: Long = acc(Other).jobs.get
}

object Trace {
  /** The engine's `src/main` modules a workload reaches. */
  val Layers: Seq[String] = Seq("server", "core", "matcher", "profile",
    "modeler", "sources", "relational", "functions", "text", "dedup",
    "sim", "pipeline", "streaming")
  private val Other = "other"
}
