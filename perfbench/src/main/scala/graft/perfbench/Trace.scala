package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder: run → op → layer call → Spark job → stage.
  *
  * Op and layer spans are opened by the benchmark around its own calls
  * into the library; the current span id rides a Spark local property on
  * the calling thread, so the listener can tie every job the call
  * launches to it. Job and stage spans come from the listener with their
  * task counters. Nothing is written until the run ends.
  *
  * Inactive (the untraced run, and the traced run's set-up), [[span]]
  * only runs its body: no listener, no local property, no allocation.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Span]()
  private val jobSpan = TrieMap[Int, Long]()
  private val stageJob = TrieMap[Int, Int]()
  private val stageWait = TrieMap[Int, Double]()
  private val stageSubmit = TrieMap[Int, Long]()
  private val open = TrieMap[Long, Span]()
  private var active = false

  final class Span(val id: Long, val parent: Long, val name: String,
      val kind: String, val startNs: Long) {
    @volatile var endNs: Long = -1L
    val attrs = new ConcurrentHashMap[String, Any]()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, s"job ${e.jobId}", "job",
        toNs(e.time))
      s.attrs.put("stages", e.stageIds.size)
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      jobSpan.put(e.jobId, s.id)
      open.put(s.id, s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.get(e.jobId).flatMap(open.remove).foreach { s =>
        s.endNs = toNs(e.time); spans.add(s)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSubmit.get(e.stageId).foreach { sub =>
        val w = math.max(0L, e.taskInfo.launchTime - sub) / 1e3
        stageWait.synchronized {
          stageWait.put(e.stageId, stageWait.getOrElse(e.stageId, 0.0) + w)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(0L)
      val start = info.submissionTime.getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, s"stage ${info.stageId}", "stage",
        toNs(start))
      s.endNs = toNs(info.completionTime.getOrElse(start))
      val m = info.taskMetrics
      s.attrs.put("tasks", info.numTasks)
      if (m != null) {
        s.attrs.put("task_cpu_s", m.executorCpuTime / 1e9)
        s.attrs.put("task_run_s", m.executorRunTime / 1e3)
        s.attrs.put("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        s.attrs.put("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        s.attrs.put("output_mb", m.outputMetrics.bytesWritten / MB)
        s.attrs.put("input_mb", m.inputMetrics.bytesRead / MB)
      }
      s.attrs.put("sched_wait_s", stageWait.remove(info.stageId).getOrElse(0.0))
      stageSubmit.remove(info.stageId)
      spans.add(s)
    }
  }

  /** Start recording (a no-op unless the run is traced). */
  def resume(): Unit = if (enabled && !active) {
    sc.addSparkListener(listener); active = true
  }

  /** Stop recording once the listener's queued events have landed (no
    * job still open and no new span for 300 ms, at most 10 s).
    */
  def pause(): Unit = if (active) {
    var last = -1; var stableMs = 0; var waited = 0
    while ((open.nonEmpty || stableMs < 300) && waited < 10000) {
      Thread.sleep(50); waited += 50
      val n = spans.size
      if (n == last) stableMs += 50 else { last = n; stableMs = 0 }
    }
    sc.removeSparkListener(listener); active = false
  }

  def isActive: Boolean = active

  /** Run `body` inside a span named `name` (kind `op` or `layer`). */
  def span[T](name: String, kind: String, attrs: (String, Any)*)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, name, kind, System.nanoTime())
      attrs.foreach { case (k, v) => s.attrs.put(k, v) }
      stack.push(s)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prev)
        stack.pop()
        s.endNs = System.nanoTime()
        spans.add(s)
      }
    }

  /** Attach an attribute to the innermost open span. */
  def annotate(key: String, value: Any): Unit =
    if (active) stack.headOption.foreach(_.attrs.put(key, value))

  /** Every span recorded, for the result file. */
  def spansOut(): Seq[Map[String, Any]] = {
    pause()
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9) ++
        s.attrs.asScala.toMap
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0
  // listener events carry wall-clock millis; spans opened by the
  // benchmark carry nanoTime — map one onto the other once
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNs(epochMs: Long): Long = epochMs * 1000000L + nanoOffset
}
