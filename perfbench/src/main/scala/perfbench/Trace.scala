package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call the benchmark made into a layer, or (parent = -1) one
  * timed operation. Times are `System.nanoTime`; `op` is the id shared by
  * every span of one operation. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Records spans in memory around the benchmark's calls into the engine.
  * Off (`enabled = false`) every call is a plain by-name evaluation. On,
  * the id of the innermost open span rides the SparkContext local
  * property [[Tracer.SpanKey]], and [[JobListener]] attributes each job's
  * tasks, executor CPU, shuffle and spill to the span that submitted it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextOp = 0
  private var overheadNs = 0L
  // nanoTime ↔ wall clock, for jobs whose only usable stamp is their
  // submission time (the listener event carries currentTimeMillis)
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)
  /** Spans are kept only while this is set: during the timed phase. */
  @volatile var recording = false

  /** A timed operation: a root span of its own op id. */
  def op[T](name: String)(f: => T): T =
    if (!(enabled && recording)) f else { nextOp += 1; span(name)(f) }

  def span[T](name: String)(f: => T): T =
    if (!(enabled && recording)) f else {
      val t0 = System.nanoTime()
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), nextOp, name, 0L, 0L)
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack = id :: stack
      val start = System.nanoTime()
      overheadNs += start - t0
      try f
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans(id) = spans(id).copy(startNs = start, endNs = end)
        overheadNs += System.nanoTime() - end
      }
    }

  def overheadMs: Double = overheadNs / 1e6

  /** Drains the listener bus and returns the spans with the Spark work each
    * one submitted itself (not counting its children). Jobs whose local
    * property names no span that was open at their submission (a pool
    * thread that inherited a stale property) fall back to the innermost
    * span open at that time; jobs outside every span are dropped. */
  def finish(): (IndexedSeq[Span], Map[Int, SparkCounts]) = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val all = spans.toIndexedSeq
    def open(s: Span, ms: Long): Boolean = {
      val t = ms * 1000000L + nanoAtEpoch
      s.startNs - 2000000L <= t && t <= s.endNs + 2000000L
    }
    def innermost(ms: Long): Option[Int] =
      all.filter(s => s.endNs > 0 && open(s, ms)).sortBy(-_.startNs).headOption.map(_.id)
    val jobSpan = listener.jobs.asScala.flatMap { case (job, (prop, ms)) =>
      prop.filter(i => i < all.size && open(all(i), ms)).orElse(innermost(ms)).map(job -> _)
    }
    val out = mutable.Map.empty[Int, SparkCounts]
    for ((job, sid) <- jobSpan) out.getOrElseUpdate(sid, new SparkCounts).jobs += 1
    for ((stage, c) <- listener.stageCounts.asScala;
         job <- Option(listener.stageJob.get(stage));
         sid <- jobSpan.get(job)) out.getOrElseUpdate(sid, new SparkCounts).add(c)
    (all, out.toMap)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Collects per-job submission stamps and per-stage task totals. */
final class JobListener extends SparkListener {
  /** job id → (span id from the local property, submission epoch ms) */
  val jobs = new ConcurrentHashMap[Int, (Option[Int], Long)]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageCounts = new ConcurrentHashMap[Int, SparkCounts]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption)
    jobs.put(e.jobId, (prop, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = stageCounts.computeIfAbsent(e.stageId, _ => new SparkCounts)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
