package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload reports to the harness: ops attempted and failed (an
  * op fails when it throws or when its output check rejects the answer),
  * plus the raw values `run.py` turns into metrics.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  var written = 0L
  var inputBytes = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val spaceAmp = mutable.ArrayBuffer.empty[Double]

  /** One client op: a span of class `cls`. Its bytes written count toward
    * write amplification against `input` bytes of new input.
    */
  def op[T](name: String, cls: String, input: Long = 0L)(body: => T): Option[T] = {
    attempted += 1
    try {
      val r = tr.span(name, cls)(body)
      written += tr.spans.last.fs.bytesWritten
      inputBytes += input
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        written += tr.spans.last.fs.bytesWritten
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** Records an output check of the op just run; a rejection fails it. */
  def check(result: Option[String]): Unit = result.foreach { m =>
    failed += 1
    errors += m.take(500)
  }
}

/** A workload: `setup` makes its seeded inputs and preloads tables under
  * `dir`; `cycle` runs one unit of client work, at least `minCycles` times
  * a run; `finish` runs the end-of-run checks.
  */
trait Workload {
  def minCycles: Int = 1
  def setup(dir: Path): Unit
  def cycle(): Unit
  def finish(): Unit = ()
}

object Main {
  /** `setup_s` is the median of full set-ups: at least `SetupMinReps`,
    * and more until `SetupMinS` have passed, so that a set-up of well under
    * a second still gives a median of warm repetitions. They run before
    * the measured loop, so they also warm its JVM. */
  val SetupMinReps = 3
  val SetupMinS = 4.0

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "issues_nightly"  => new Nightly(ctx)
    case "corpus_curation" => new Curation(ctx)
    case "table_changes"   => new TableChanges(ctx)
    case other => sys.error(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val out = Paths.get(arg(args, "--out"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = Clock.nowMs

    val spark = graft.GraftSession.builder("graftbench", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = Clock.nowMs - t0

    try {
      val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
      val tracer = new Tracer(spark.sparkContext, traced, runId)
      val ctx = new Ctx(spark, tracer, seed)
      val wl = make(workload, ctx)
      val setupS = mutable.ArrayBuffer.empty[Double]
      while (setupS.size < SetupMinReps || setupS.sum < SetupMinS) {
        val i = setupS.size + 1
        val s0 = Clock.nowMs
        wl.setup(work.resolve(s"setup$i"))
        setupS += (Clock.nowMs - s0) / 1000.0
        if (i > 1) deleteTree(work.resolve(s"setup${i - 1}"))
      }
      tracer.spans.clear() // set-up spans are not samples

      val m0 = Clock.nowMs
      val deadline = m0 + seconds * 1000.0
      tracer.span("run") {
        // no warm-up beyond the set-ups: the first cycle is measured
        var cycles = 0
        while (ctx.failed == 0 && (cycles < wl.minCycles || Clock.nowMs < deadline)) {
          wl.cycle(); cycles += 1
        }
      }
      val measuredS = (Clock.nowMs - m0) / 1000.0
      if (ctx.failed == 0)
        try wl.finish() catch { case NonFatal(e) => ctx.check(Some(s"end-of-run checks: $e")) }

      val jobs = tracer.jobs().map(j => Map(
        "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "cpu_ms" -> j.cpuNs / 1e6, "shuffle_bytes" -> j.shuffleWriteBytes,
        "input_bytes" -> j.inputBytes))
      val raw = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "session_s" -> sessionMs / 1000.0,
        "setup_s" -> setupS, "measured_s" -> measuredS,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "errors" -> ctx.errors.toSeq,
        "written_bytes" -> ctx.written, "input_bytes" -> ctx.inputBytes,
        "space_amp" -> ctx.spaceAmp.toSeq,
        "spans" -> tracer.spans.toSeq, "jobs" -> jobs)
      raw ++= ctx.extra
      Files.write(out, Json.write(raw).getBytes("UTF-8"))
    } finally spark.stop()
  }
}
