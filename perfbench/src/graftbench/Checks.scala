package graftbench

import graftbench.Gen.{IssueTruth, TRow}

/** Output checks. Each returns `None` when the engine's answer equals what
  * the generator or the in-memory model knows, or a message naming the
  * first difference. They take plain collections, so the self-test can feed
  * them corrupted answers without a Spark session.
  */
object Checks {

  private def diff[T](what: String, got: Set[T], want: Set[T]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${(got -- want).size} unexpected (e.g. ${(got -- want).take(3).mkString(", ")}), " +
      s"${(want -- got).size} missing (e.g. ${(want -- got).take(3).mkString(", ")})")

  private def eq(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Silver row count and the global mart's created/closed totals. */
  def nightly(silverRows: Long, createdTotal: Long, closedTotal: Long,
              truth: IssueTruth): Option[String] =
    eq("silver rows", silverRows, truth.silverRows)
      .orElse(eq("gold created total", createdTotal, truth.createdTotal))
      .orElse(eq("gold closed total", closedTotal, truth.closedTotal))

  /** The nightly quality gate counts every malformed `created_at`. */
  def gate(silverRows: Long, createdFailures: Long, truth: IssueTruth): Option[String] =
    eq("gate rows", silverRows, truth.silverRows)
      .orElse(eq("gate created_at failures", createdFailures, truth.malformedCreated))

  /** `clean` keeps every doc except the higher id of each injected pair. */
  def clean(kept: Set[Long], all: Set[Long], pairs: Set[(Long, Long)]): Option[String] =
    diff("clean kept ids", kept, all -- pairs.map(_._2))

  /** The dedup screen flags exactly the injected (new, base) pairs. */
  def dedupScreen(hits: Set[(Long, Long)], pairs: Set[(Long, Long)]): Option[String] =
    diff("dedup screen pairs", hits, pairs)

  /** The substring screen flags exactly the near-duplicates and the docs
    * that carry boilerplate.
    */
  def substrScreen(flagged: Set[Long], want: Set[Long]): Option[String] =
    diff("substr screen docs", flagged, want)

  /** A table read equals the model's rows (keys are unique). */
  def rows(what: String, got: Seq[TRow], want: Iterable[TRow]): Option[String] =
    if (got.size != got.toSet.size) Some(s"$what: duplicate rows in the answer")
    else diff(what, got.toSet, want.toSet)

  /** `changes(a, b)`: inserts are rows of b not in a, deletes the reverse. */
  def changes(got: Seq[(TRow, String)], before: Map[Long, TRow],
              after: Map[Long, TRow]): Option[String] = {
    val b = before.values.toSet
    val a = after.values.toSet
    val want = (a -- b).map(_ -> "insert") ++ (b -- a).map(_ -> "delete")
    if (got.size != got.toSet.size) Some("changes: duplicate change rows")
    else diff("changes", got.toSet, want)
  }

  /** The MV holds (rows, sum of v) per group of the model. */
  def mv(got: Map[String, (Long, Long)], model: Iterable[TRow]): Option[String] = {
    val want = model.groupBy(_.grp).map { case (g, rs) => g -> (rs.size.toLong, rs.map(_.v).sum) }
    diff("mv groups", got.toSet, want.toSet)
  }
}
