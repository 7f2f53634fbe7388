package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer of the program.
  *
  * One client thread opens and closes spans, so an explicit stack gives
  * each span its parent. The open span's id rides the SparkContext local
  * property [[Tracer.SpanProp]]; every job and stage submitted while it is
  * open carries it, which is how [[JobListener]] attributes Spark work to
  * spans. Threads started inside a span (the merge sink's stream thread)
  * inherit the property. Spans stay in memory and are written once, at
  * the end of the run; self time and per-layer sums are computed from the
  * written files (metrics.py), not here.
  *
  * A disabled tracer only runs the body: the untraced run does no span
  * bookkeeping and registers no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  // span times share the epoch clock of listener event times, at µs
  // resolution: epoch at start plus the monotonic clock since
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nanoBase) / 1000L

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Operation id stamped on spans opened from now on (a batch, a query
    * or a probe batch). */
  def setOp(id: Long): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        nowUs, gcMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endUs = nowUs
        s.gcEndMs = gcMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try {
      w.println("id,name,parent,op,start_us,end_us,gc_ms")
      spans.foreach(s => w.println(
        s"${s.id},${s.name},${s.parent},${s.op},${s.startUs},${s.endUs},${s.gcEndMs - s.gcStartMs}"))
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private final case class Span(id: Int, name: String, parent: Int, op: Long,
      startUs: Long, gcStartMs: Long, var endUs: Long = -1L, var gcEndMs: Long = -1L)
}

/** Records every Spark job (interval and owning span) and sums task
  * metrics per stage. Registered only in the traced run. */
final class JobListener extends SparkListener {
  import JobListener.Job
  private final class StageSums(val span: Int) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWriteBytes = 0L; var outputBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, StageSums]
  @volatile private var ended = 0

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(spanOf(e.properties), e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    ended += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageSums(spanOf(e.properties)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Events reach listeners asynchronously: wait (bounded) until every
    * started job has ended and no new event arrived for a moment. */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000L
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (n, done) = synchronized((ended, ended == jobs.size))
      if (done && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def write(jobsPath: String, stagesPath: String): Unit = synchronized {
    val j = new PrintWriter(jobsPath)
    try {
      j.println("job,span,start_ms,end_ms")
      jobs.foreach { case (id, x) => j.println(s"$id,${x.span},${x.startMs},${x.endMs}") }
    } finally j.close()
    val s = new PrintWriter(stagesPath)
    try {
      s.println("stage,span,tasks,cpu_ns,run_ms,shuffle_write_bytes,output_bytes")
      stages.foreach { case (id, x) => s.println(
        s"$id,${x.span},${x.tasks},${x.cpuNs},${x.runMs},${x.shuffleWriteBytes},${x.outputBytes}") }
    } finally s.close()
  }
}

object JobListener {
  private final case class Job(span: Int, startMs: Long, var endMs: Long = -1L)
}
