package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One wall clock for spans and Spark jobs: epoch milliseconds with
  * sub-millisecond resolution (listener events carry `currentTimeMillis`).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** File-system calls ([[CountingFs]]) and Hadoop `FileSystem.Statistics`
  * bytes summed over every scheme. In local mode the executors share the
  * driver JVM, so these include task-side I/O.
  */
final case class FsCounts(ops: Long, bytesWritten: Long) {
  def -(o: FsCounts): FsCounts = FsCounts(ops - o.ops, bytesWritten - o.bytesWritten)
}

object FsCounts {
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounts = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    FsCounts(CountingFs.ops.get(), all.map(_.getBytesWritten).sum)
  }
}

/** A finished span. `cls` names the end-to-end op class the span is a
  * sample of (commit, read, refresh, screen, job), or is empty.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      cls: String, startMs: Double, endMs: Double,
                      ok: Boolean, fs: FsCounts)

/** One Spark job with the task metrics summed over its stages. */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var cpuNs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var inputBytes: Long = 0L
}

/** Collects jobs and task metrics, keyed to the span that was open on the
  * client thread when the job was submitted (a Spark local property).
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      j <- stageJob.get(e.stageId).flatMap(jobs.get)
      m <- Option(e.taskMetrics)
    } {
      j.cpuNs += m.executorCpuTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Spans for the one client thread. Every span records its wall interval
  * and file-system deltas. When `traced`, a listener is registered and
  * every Spark job is tagged with the innermost open span.
  */
final class Tracer(sc: SparkContext, traced: Boolean, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val listener = new JobListener
  if (traced) sc.addSparkListener(listener)

  def span[T](name: String, cls: String = "")(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    if (traced) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack.push(id)
    val fs0 = FsCounts.now()
    val t0 = Clock.nowMs
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = Clock.nowMs
      stack.pop()
      if (traced) sc.setLocalProperty(Tracer.SpanKey, prevProp)
      spans += Span(id, name, parent, runId, cls, t0, t1, ok, FsCounts.now() - fs0)
    }
  }

  /** Jobs seen so far, after the listener bus has delivered its backlog. */
  def jobs(): Seq[JobRec] = {
    org.apache.spark.BenchBus.drain(sc)
    listener.synchronized(listener.jobs.values.toVector)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
