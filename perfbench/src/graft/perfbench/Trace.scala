package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: every job, stage and task whose
  * submitting thread had that span open.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
  }
}

/** Attributes jobs, tasks, shuffle, spill, executor CPU, GC and task peak
  * memory to the span that was open when the work was submitted. The
  * span travels as a Spark local property, so the attribution does not
  * depend on when the listener bus delivers an event.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val bySpan = mutable.HashMap.empty[String, Counters]

  private def spanOf(props: java.util.Properties): String =
    if (props == null) null else props.getProperty(SpanListener.Key)

  private def counters(span: String): Counters = synchronized {
    bySpan.getOrElseUpdate(span, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    if (span != null) {
      e.stageIds.foreach(stageSpan.put(_, span))
      val c = counters(span)
      synchronized { c.jobs += 1 }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    if (span != null) stageSpan.put(e.stageInfo.stageId, span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val c = counters(span)
      synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  /** Sum of the counters of every span whose name satisfies `p`, after
    * all events posted so far have been delivered.
    */
  def total(sc: SparkContext)(p: String => Boolean): Counters = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    val out = new Counters
    synchronized { bySpan.foreach { case (k, c) => if (p(k)) out += c } }
    out
  }
}

object SpanListener {
  val Key = "perfbench.span"

  /** Registers one listener per session and returns it. */
  def install(sc: SparkContext): SpanListener = {
    val l = new SpanListener
    sc.addSparkListener(l)
    l
  }
}

/** One closed span: `name` inside cycle `cycle` (the cycle span itself
  * has name "cycle"), wall interval in nanoseconds.
  */
final case class Span(cycle: Int, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the engine's layers,
  * in memory, and tags the Spark work submitted inside each span.
  * `kind` classifies a cycle once its outcome is known (rows committed
  * or not).
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var cycleId = -1

  def key(cycle: Int, name: String): String = s"$cycle/$name"

  /** Runs one cycle under a fresh cycle id; Spark work outside any
    * layer span is attributed to the cycle's `other` span.
    */
  def cycle[T](body: => T)(kind: T => String): T = {
    cycleId += 1
    val id = cycleId
    sc.setLocalProperty(SpanListener.Key, key(id, "other"))
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(SpanListener.Key, null)
    spans += Span(id, kind(out), "cycle", t0, System.nanoTime())
    out
  }

  def span[T](name: String)(body: => T): T = {
    val id = cycleId
    sc.setLocalProperty(SpanListener.Key, key(id, name))
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, "", name, t0, System.nanoTime())
      sc.setLocalProperty(SpanListener.Key, key(id, "other"))
    }
  }

  def lastCycle: Int = cycleId

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"cycle":${s.cycle},"kind":"${s.kind}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
