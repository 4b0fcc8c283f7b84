package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into graft's public
  * functions. A span's id rides Spark's job-local properties, so the
  * [[JobLog]] can attribute every job to the innermost open span. Spans
  * are written out once, at the end of the run. */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Tracing on or off for the next spans (a traced run alternates). */
  var on = false

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * on the same base as Spark's listener event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def apply[A](name: String, req: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id), name,
        if (req >= 0) req else parent.fold(-1L)(_.req), nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def json: Seq[Seq[Any]] =
    spans.toSeq.map(s => Seq(s.id, s.parent, s.name, s.req, s.startMs, s.endMs))
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Span(val id: Int, val parent: Int, val name: String, val req: Long,
      val startMs: Double, var endMs: Double)
}

/** Jobs and their task metrics, read from Spark's public listener bus.
  * Each job carries the span open when it was submitted and, for
  * streaming micro-batch jobs, the batch id Spark stamps on them. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val span: Int, val batch: Long) {
    @volatile var endMs: Long = -1L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val job = new Job(e.jobId, e.time,
      prop(Tracer.SpanProp).fold(-1)(_.toInt),
      prop("streaming.sql.batchId").fold(-1L)(_.toLong))
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    if (m != null) job.foreach { j =>
      j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Waits until every job seen so far has ended (the listener bus
    * delivers events asynchronously), at most `timeoutMs`. */
  def settle(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200L)
    import scala.jdk.CollectionConverters._
    while (jobs.values().asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)
  }

  /** [id, start, end, span, batch, cpuMs, shuffleWriteBytes, spillBytes,
    *  inputBytes, outputBytes] */
  def json: Seq[Seq[Any]] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
      Seq(j.id, j.startMs, j.endMs, j.span, j.batch, j.cpuNs / 1e6,
        j.shuffleWrite, j.spill, j.inputBytes, j.outputBytes)
    })
  }
}
