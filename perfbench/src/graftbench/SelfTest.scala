package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graftbench.Gen.TRow

/** The benchmark's JVM-side self-test, no Spark session needed: every
  * output check accepts the right answer and rejects a corrupted one, and
  * the generators are byte-identical for one seed and differ across seeds.
  * Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  private def accepts(what: String, r: Option[String]): Unit =
    expect(s"$what accepts the right answer", r.isEmpty)

  private def rejects(what: String, r: Option[String]): Unit =
    expect(s"$what rejects a corrupted answer (${r.getOrElse("accepted")})", r.isDefined)

  private def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.list(dir)
    try s.sorted().forEach(f => md.update(Files.readAllBytes(f)))
    finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))

    // nightly: silver rows and gold totals
    val truth = Gen.IssueTruth(bronzeRows = 12, silverRows = 10, createdTotal = 4,
      closedTotal = 3, malformedCreated = 1, bronzeBytes = 100)
    accepts("nightly", Checks.nightly(10, 4, 3, truth))
    rejects("nightly (row lost in merge)", Checks.nightly(9, 4, 3, truth))
    rejects("nightly (closed total off by one)", Checks.nightly(10, 4, 4, truth))
    accepts("gate", Checks.gate(10, 1, truth))
    rejects("gate (malformed timestamp parsed)", Checks.gate(10, 0, truth))

    // curation: near-duplicate pairs dropped or flagged, clean pairs kept
    val all = (0L until 10L).toSet
    val pairs = Set((1L, 7L), (2L, 8L))
    accepts("clean", Checks.clean(all -- Set(7L, 8L), all, pairs))
    rejects("clean (a near-duplicate kept)", Checks.clean(all - 7L, all, pairs))
    rejects("clean (a clean doc dropped)", Checks.clean(all -- Set(7L, 8L, 3L), all, pairs))
    accepts("dedup screen", Checks.dedupScreen(Set((20L, 1L)), Set((20L, 1L))))
    rejects("dedup screen (pair missed)", Checks.dedupScreen(Set.empty, Set((20L, 1L))))
    rejects("dedup screen (clean pair flagged)",
      Checks.dedupScreen(Set((20L, 1L), (21L, 3L)), Set((20L, 1L))))
    accepts("substr screen", Checks.substrScreen(Set(20L, 22L), Set(20L, 22L)))
    rejects("substr screen (doc missed)", Checks.substrScreen(Set(20L), Set(20L, 22L)))

    // table: reads, change feed and MV against the model
    def r(id: Long, v: Long) = TRow(id, s"g${id % 2}", v, 1L, "p")
    val before = Map(1L -> r(1, 10), 2L -> r(2, 20), 3L -> r(3, 30))
    val after = Map(1L -> r(1, 11), 3L -> r(3, 30), 4L -> r(4, 40))
    accepts("rows", Checks.rows("read", after.values.toSeq, after.values))
    rejects("rows (stale value)", Checks.rows("read", Seq(r(1, 10), r(3, 30), r(4, 40)), after.values))
    rejects("rows (duplicated row)", Checks.rows("read", after.values.toSeq :+ r(4, 40), after.values))
    val feed = Seq(r(1, 11) -> "insert", r(4, 40) -> "insert", r(1, 10) -> "delete",
      r(2, 20) -> "delete")
    accepts("changes", Checks.changes(feed, before, after))
    rejects("changes (delete missing)", Checks.changes(feed.dropRight(1), before, after))
    rejects("changes (wrong change type)",
      Checks.changes(feed.updated(1, r(4, 40) -> "delete"), before, after))
    val mv = Map("g1" -> (2L, 41L), "g0" -> (1L, 40L))
    accepts("mv", Checks.mv(mv, after.values))
    rejects("mv (stale group sum)", Checks.mv(mv.updated("g1", (2L, 40L)), after.values))

    // generator determinism
    val spec = Gen.IssueSpec(3000, 3, 0.1, 0.03, 0.25)
    val t1 = Gen.issues(work.resolve("g1"), spec, 7L)
    val t2 = Gen.issues(work.resolve("g2"), spec, 7L)
    val t3 = Gen.issues(work.resolve("g3"), spec, 8L)
    expect("issues: same seed, byte-identical runs",
      digest(work.resolve("g1")) == digest(work.resolve("g2")) && t1 == t2)
    expect("issues: another seed, other runs", digest(work.resolve("g1")) != digest(work.resolve("g3")))
    expect("corpus: same seed, identical docs",
      Gen.corpus(500, 0.05, 0.1, 7L) == Gen.corpus(500, 0.05, 0.1, 7L))
    expect("corpus: another seed, other docs",
      Gen.corpus(500, 0.05, 0.1, 7L) != Gen.corpus(500, 0.05, 0.1, 8L))
    expect("issues truth is consistent",
      t1.silverRows <= spec.nIssues && t1.createdTotal <= t1.silverRows &&
        t1.closedTotal <= t1.createdTotal && t1.bronzeRows > spec.nIssues)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
