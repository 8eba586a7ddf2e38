package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from its own
  * `SplittableRandom(seed ^ salt)`, so the same seed gives byte-identical
  * inputs and no generator's output depends on another's.
  */
object Gen {

  // ---- synthetic GitHub issues (bronze JSONL runs) -------------------

  final case class IssueSpec(nIssues: Int, runs: Int, prShare: Double,
                             malformedShare: Double, reemitShare: Double)

  /** What the generator knows by construction about the merged silver
    * table and the gold global mart.
    */
  final case class IssueTruth(bronzeRows: Long, silverRows: Long,
                              createdTotal: Long, closedTotal: Long,
                              malformedCreated: Long, bronzeBytes: Long)

  private val kindLabels = Seq("Bug", "Docs", "Enhancement", "Usage Question")
  private val components = Seq("Indexing", "Groupby", "IO CSV", "Strings",
    "Datetime", "Reshaping", "component: storage", "module: parser",
    "area: cli", "Performance", "Window", "Categorical")
  private val extras = Seq("Needs Triage", "Regression", "Blocker",
    "good first issue", "Needs Info", "Duplicate Report")

  private def iso(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString

  /** Writes `spec.runs` files `issues_<r>.jsonl` under `dir`. An issue
    * first appears in one run; a `reemitShare` of them is emitted again in
    * a later run with a later `updated_at` (and possibly closed there), so
    * the merge must keep the later version.
    */
  def issues(dir: Path, spec: IssueSpec, seed: Long): IssueTruth = {
    val rnd = new SplittableRandom(seed ^ 0x155e5L)
    Files.createDirectories(dir)
    val outs = (0 until spec.runs).map { r =>
      new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(dir.resolve(f"issues_$r%03d.jsonl")), UTF_8), 1 << 16)
    }
    val t2016 = 1451606400L
    val span10y = 10L * 365 * 86400
    var bronzeRows, silverRows, created, closed, malformed = 0L
    try {
      var id = 1L
      while (id <= spec.nIssues) {
        val isPr = rnd.nextDouble() < spec.prShare
        val kind = rnd.nextInt(5) // 4 = no kind label
        val labels = Seq.newBuilder[String]
        if (kind < 4) labels += kindLabels(kind)
        if (rnd.nextDouble() < 0.7) labels += components(rnd.nextInt(components.size))
        if (rnd.nextDouble() < 0.3) labels += extras(rnd.nextInt(extras.size))
        val labs = labels.result()
        val createdS = t2016 + (rnd.nextDouble() * span10y).toLong
        val badCreated = rnd.nextDouble() < spec.malformedShare
        val badClosed = rnd.nextDouble() < spec.malformedShare
        val closesAfterS = 3600L + (rnd.nextDouble() * 90 * 86400).toLong
        val run0 = rnd.nextInt(spec.runs)
        val reemit = run0 < spec.runs - 1 && rnd.nextDouble() < spec.reemitShare
        val runLast = if (reemit) run0 + 1 + rnd.nextInt(spec.runs - 1 - run0) else run0
        // the first emission is open when re-emitted, so the later
        // version changes state; a single emission closes with p = 0.6
        val closedFinal = rnd.nextDouble() < 0.6
        val emissions = if (reemit) Seq(run0 -> false, runLast -> closedFinal)
                        else Seq(run0 -> closedFinal)
        emissions.foreach { case (r, isClosed) =>
          val updatedS = createdS + 60 + r * 86400L
          val sb = new StringBuilder(256)
          sb ++= s"""{"id":$id,"number":$id,"state":"${if (isClosed) "closed" else "open"}","""
          sb ++= s""""title":"issue $id","body":"synthetic body of issue $id","""
          sb ++= s""""created_at":"${if (badCreated) "not-a-date" else iso(createdS)}","""
          sb ++= s""""updated_at":"${iso(updatedS)}","""
          sb ++= s""""closed_at":${if (!isClosed) "null" else if (badClosed) "\"31/02/2020\""
                                    else "\"" + iso(createdS + closesAfterS) + "\""},"""
          sb ++= labs.map(l => s"""{"name":"$l"}""").mkString(""""labels":[""", ",", "]")
          if (isPr) sb ++= s""","pull_request":{"url":"https://example.invalid/pr/$id"}"""
          sb ++= "}\n"
          outs(r).write(sb.toString)
          bronzeRows += 1
        }
        if (!isPr) {
          silverRows += 1
          if (badCreated) malformed += 1
          val defect = labs.contains("Bug")
          if (defect && !badCreated) {
            created += 1
            if (closedFinal && !badClosed) closed += 1
          }
        }
        id += 1
      }
    } finally outs.foreach(_.close())
    val bytes = (0 until spec.runs).map(r =>
      Files.size(dir.resolve(f"issues_$r%03d.jsonl"))).sum
    IssueTruth(bronzeRows, silverRows, created, closed, malformed, bytes)
  }

  // ---- synthetic documents (corpus curation) --------------------------

  final case class Doc(id: Long, text: String)

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "you", "that")
  private val boilerplates: Seq[String] = (0 until 3).map { b =>
    (0 until 20).map(i => s"legal${b}x$i").mkString(" ")
  }

  private def word(rnd: SplittableRandom): String =
    if (rnd.nextDouble() < 0.3) stop(rnd.nextInt(stop.size))
    else "w" + rnd.nextInt(50000)

  private def body(rnd: SplittableRandom): Array[String] =
    Array.fill(80 + rnd.nextInt(40))(word(rnd))

  /** A near-duplicate: the source with tokens 20 and 50 replaced. That
    * keeps 3-gram Jaccard at or above 0.6 even when the source's
    * boilerplate shingles are capped as hot, and leaves exact runs of at
    * least 19 tokens.
    */
  private def nearDup(src: String, rnd: SplittableRandom): String = {
    val t = src.split(" ")
    Seq(20, 50).foreach(i => t(i) = "m" + rnd.nextInt(1 << 30))
    t.mkString(" ")
  }

  private def withBoilerplate(toks: Array[String], rnd: SplittableRandom,
                              share: Double): String = {
    val text = toks.mkString(" ")
    if (rnd.nextDouble() < share) text + " " + boilerplates(rnd.nextInt(boilerplates.size))
    else text
  }

  final case class Corpus(docs: Seq[Doc], pairs: Set[(Long, Long)],
                          singletons: IndexedSeq[Long])

  /** `n` base docs; a `dupShare` of them get a near-duplicate (the copy
    * takes a higher id). `singletons` are base docs in no pair, the pool
    * daily batches draw their near-duplicates from.
    */
  def corpus(n: Int, dupShare: Double, boilerShare: Double, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0xc0de5L)
    val nDup = (n * dupShare).toInt
    val nSrc = n - nDup
    val base = (0 until nSrc).map(i => Doc(i.toLong, withBoilerplate(body(rnd), rnd, boilerShare)))
    val srcs = (0 until nDup).map(_ => rnd.nextInt(nSrc)).distinct
    val dups = srcs.zipWithIndex.map { case (s, j) =>
      Doc((nSrc + j).toLong, nearDup(base(s).text, rnd))
    }
    val pairs = srcs.zip(dups).map { case (s, d) => (s.toLong, d.id) }.toSet
    val used = srcs.toSet
    Corpus(base ++ dups, pairs, (0 until nSrc).filterNot(used).map(_.toLong))
  }

  final case class Batch(docs: Seq[Doc], pairs: Set[(Long, Long)], flagged: Set[Long])

  /** Daily batch `day`: fresh docs with ids above `firstId`, a `dupShare`
    * of near-duplicates of the given base singletons. `flagged` is every
    * doc the exact-substring screen must flag: the near-duplicates and the
    * docs carrying boilerplate.
    */
  def batch(size: Int, firstId: Long, dupSources: Seq[Doc], boilerShare: Double,
            seed: Long, day: Int): Batch = {
    val rnd = new SplittableRandom(seed ^ (0xba7c4L + day * 7919L))
    val dups = dupSources.zipWithIndex.map { case (s, j) =>
      Doc(firstId + j, nearDup(s.text, rnd))
    }
    val fresh = (dups.size until size).map { j =>
      val toks = body(rnd)
      Doc(firstId + j, withBoilerplate(toks, rnd, boilerShare))
    }
    val boiler = fresh.filter(d => boilerplates.exists(d.text.endsWith)).map(_.id)
    Batch(dups ++ fresh, dupSources.zip(dups).map { case (s, d) => (d.id, s.id) }.toSet,
      (dups.map(_.id) ++ boiler).toSet)
  }

  /** Writes docs in the `documents` table shape. */
  def writeDocs(spark: org.apache.spark.sql.SparkSession, docs: Seq[Doc],
                path: String, files: Int): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, "en", s"src${d.id % 7}", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(path)
  }

  // ---- table rows (table changes) ------------------------------------

  final case class TRow(id: Long, grp: String, v: Long, updatedAt: Long, payload: String)

  def row(rnd: SplittableRandom, id: Long, nGroups: Int, at: Long): TRow =
    TRow(id, f"g${rnd.nextInt(nGroups)}%02d", rnd.nextInt(1000000).toLong, at,
      "p" + rnd.nextLong().toHexString)
}
