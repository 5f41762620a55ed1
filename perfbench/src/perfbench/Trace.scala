package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a layer call made by the benchmark. */
final case class Span(id: Long, layer: String, name: String, startMs: Double, endMs: Double,
    parent: Long, request: Long, forced: Boolean) {
  def ms: Double = endMs - startMs
  def json: String =
    f"""{"id":$id,"layer":"$layer","name":"$name","start_ms":$startMs%.3f,"end_ms":$endMs%.3f,""" +
      s""""parent":$parent,"request":$request,"forced":$forced}"""
}

/**
 * Spans around the benchmark's calls into each engine layer. With tracing
 * off `span` only runs its body. With tracing on it records the span in
 * memory and sets the layer as the Spark job group for the call, so
 * [[JobCounts]] can attribute jobs, tasks and bytes to the layer. Spans
 * marked `forced` are work the trace adds (counts that force a lazy
 * layer); their time is the tracing overhead.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val request = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  // epoch milliseconds with nanosecond steps, comparable with Spark listener times
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](layer: String, name: String, forced: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = current.get
      val prevGroup = sc.getLocalProperty(JobCounts.GroupKey)
      current.set(id)
      sc.setLocalProperty(JobCounts.GroupKey, layer)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        current.set(parent)
        sc.setLocalProperty(JobCounts.GroupKey, prevGroup)
        spans.synchronized { spans += Span(id, layer, name, t0, t1, parent, request.get, forced) }
      }
    }

  /** Runs `body` as request `id`: every span inside carries that id. */
  def inRequest[T](id: Long)(body: => T): T = {
    val prev = request.get
    request.set(id)
    try body finally request.set(prev)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def of(layer: String, name: String): Seq[Span] = all.filter(s => s.layer == layer && s.name == name)
  def layerCalls(layer: String): Seq[Span] = {
    // only the outermost span of a layer counts as one call of it
    val byId = all.map(s => s.id -> s).toMap
    all.filter { s =>
      s.layer == layer && Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(0L))
        .takeWhile(_ != 0L).forall(p => byId.get(p).forall(_.layer != layer))
    }
  }
  def overheadMs: Double = {
    val byId = all.map(s => s.id -> s).toMap
    // forced spans nested in another forced span are counted once
    all.filter(s => s.forced && !byId.get(s.parent).exists(_.forced)).map(_.ms).sum
  }
}

/**
 * Spark jobs, tasks and bytes per job group, from a SparkListener. Job
 * intervals are kept so the driver time between jobs inside a layer's
 * spans can be derived.
 */
final class JobCounts extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffle = new AtomicLong
    val spill = new AtomicLong
    val scan = new AtomicLong
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val groups = new ConcurrentHashMap[String, Acc]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobCounts.GroupKey))).getOrElse("-")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobStart.put(e.jobId, (g, e.time))
    acc(g).jobs.incrementAndGet()
    started.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val a = acc(g)
      a.intervals.synchronized { a.intervals += ((t0, e.time)) }
    }
    ended.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageGroup.get(e.stageId)).getOrElse("-"))
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.scan.addAndGet(m.inputMetrics.bytesRead)
      a.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits until the listener has seen the end of every job it saw start. */
  def settle(): Unit = {
    Thread.sleep(200)
    val deadline = System.currentTimeMillis() + 5000
    while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Wall time covered by the group's jobs inside [fromMs, toMs) (epoch ms). */
  def jobMsWithin(g: String, fromMs: Long, toMs: Long): Double = {
    val iv = acc(g).intervals.synchronized(acc(g).intervals.toList)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered.toDouble
  }
}

object JobCounts {
  val GroupKey = "spark.jobGroup.id"
}

/** Structured Streaming progress of every query in the session. */
final class Progress extends StreamingQueryListener {
  final case class Batch(triggerMs: Long, addBatchMs: Long, rows: Long, rowsPerS: Double)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    batches.synchronized {
      batches += Batch(d.get("triggerExecution").map(_.longValue).getOrElse(0L),
        d.get("addBatch").map(_.longValue).getOrElse(0L), p.numInputRows,
        if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond)
    }
  }
  /** Batches that carried input (idle triggers also report progress). */
  def all: Seq[Batch] = batches.synchronized(batches.toList).filter(_.rows > 0)
  def clear(): Unit = batches.synchronized(batches.clear())
}

/** After-GC heap: a full collection at fixed checkpoints, keeping the peak. */
object Heap {
  private val taken = mutable.ArrayBuffer.empty[Long]
  def checkpoint(): Unit = {
    // Spark drops broadcast and shuffle state (ContextCleaner) and trims its
    // status store on its own threads once a collection has released them:
    // collect, give that a second, then collect twice (the second also
    // frees what the first only made unreachable)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    taken.synchronized(taken += used)
  }
  /** After-GC heap at each checkpoint so far, in MB. */
  def checkpointsMb: Seq[Double] = taken.synchronized(taken.toList).map(_ / (1024.0 * 1024.0))
  def peakMb: Double = checkpointsMb.max
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
