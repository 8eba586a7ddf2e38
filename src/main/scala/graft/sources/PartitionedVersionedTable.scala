package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Partition-pruned MERGE over [[VersionedTable]]s: one transaction log per
  * partition value (`<root>/<col>=<value>/_txlog/…`), so an upsert only
  * rewrites partitions that actually contain matched keys — the discipline
  * that makes copy-on-write MERGE affordable at 100 TB (an unpartitioned
  * MERGE rewrites the world; a date/repo-partitioned one rewrites a few
  * shards). Same layout convention as Hive-style partitioning, so external
  * tools can still list it.
  *
  * Each partition commits its own versions (its own optimistic-concurrency
  * log); `read()` sees each partition's latest committed snapshot — the
  * same trade Delta users accept when they MERGE with a partition
  * predicate. MERGE INTO and copy-on-write DELETE nonetheless cost ONE Spark
  * pass however many members they touch: one discovery job over all
  * touched members, one rewrite join, one write staged under
  * `<root>/_staging/dml-<uuid>/` and clustered by member, then a per-member
  * conditional commit of each staged dir ([[onePass]]). The other verbs
  * run one member pipeline each on a bounded pool ([[mapMembers]]).
  * For readers that need a CONSISTENT multi-partition view, a
  * top-level snapshot log (`<root>/_snaplog/`) records the
  * partition→version vector AFTER all of an operation's partition commits
  * land, with the same fails-if-exists atomic rename: a coordinator
  * manifest over the per-partition logs (the multi-table-transaction
  * layering pattern). [[readSnapshot]] unions the RECORDED versions, so a
  * crash mid-operation (some partitions committed, no snapshot written)
  * is invisible to snapshot readers — all-or-nothing visibility — and
  * later commits never move an existing snapshot.
  *
  * The partition column must be stable for a given key (an issue's repo, a
  * doc's source) — if a key's partition value could change, the old row
  * would survive in its old partition (same caveat as any partitioned
  * upsert store).
  */
final class PartitionedVersionedTable(spark: SparkSession, root: String,
                                      partitionCol: String,
                                      constraints: Seq[(String, String)] = Nil,
                                      memberStatsCols: Seq[String] = Nil,
                                      memberBloomCols: Seq[String] = Nil) {

  import PartitionedVersionedTable._

  /** Exposed for the DSv2 layer ([[GraftPartitionedTable]]). */
  def tableRoot: String = root
  def partitionColumn: String = partitionCol
  def memberStats: Seq[String] = memberStatsCols

  private def partRoot(value: String): String =
    s"$root/$partitionCol=$value"

  /** The per-partition table (exposed for snapshot/time-travel access —
    * carries the table's CHECK constraints, so direct partition writers
    * are enforced too).
    */
  def partition(value: String): VersionedTable =
    new VersionedTable(spark, partRoot(value), memberStatsCols,
      constraints = constraints, bloomCols = memberBloomCols)

  /** Internal write path: the whole frame was already validated at the
    * entry point — per-slice re-validation would just repeat the pass.
    */
  private[sources] def partitionUnchecked(value: String): VersionedTable =
    new VersionedTable(spark, partRoot(value), memberStatsCols,
      bloomCols = memberBloomCols)

  /** Partition values present on disk. */
  def partitions: Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionCol="))
      .map(_.stripPrefix(s"$partitionCol=")).toSeq.sorted
  }

  /** Directory-safe partition values only: null or path-meaningful
    * characters would corrupt the `<col>=<value>` layout (Hive escapes
    * these; we reject them — partition columns are engine-chosen, bounded
    * vocabularies like repo/month/source).
    */
  private[sources] def validate(v: String): String = {
    require(v != null, s"null $partitionCol partition value")
    require(v.matches("[A-Za-z0-9._-]+"),
      s"unsafe $partitionCol partition value '$v' (allowed: [A-Za-z0-9._-])")
    v
  }

  /** Collect a single-column DISTINCT partition-value frame with the
    * [[PartitionedVersionedTable.MaxRouteValuesConf]] ceiling enforced:
    * the collect is LIMIT-bounded, so the driver never materializes more
    * than cap+1 values even on the failing path. Partition cardinality
    * is this layout's design bound (one transaction log per value) — a
    * source accidentally routing by a data-sized column (user id, URL)
    * must fail loudly BEFORE a slow driver fold, not OOM inside it.
    */
  private def collectValuesBounded(distinctVals: DataFrame,
                                   what: String): Seq[String] = {
    val cap = PartitionedVersionedTable.positiveIntConf(spark,
      PartitionedVersionedTable.MaxRouteValuesConf,
      PartitionedVersionedTable.DefaultMaxRouteValues)
    val rows = distinctVals.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what: more than $cap distinct $partitionCol values would fold " +
        "on the driver — the one-log-per-value layout is designed for " +
        "bounded partition vocabularies (repo, month, source); partition " +
        "by a bounded column or raise " +
        PartitionedVersionedTable.MaxRouteValuesConf)
    rows.map(r => validate(r.getString(0))).toSeq.sorted
  }

  private def values(df: DataFrame): Seq[String] =
    collectValuesBounded(
      df.select(col(partitionCol).cast("string")).distinct(), "write routing")

  /** Run one independent member task per partition value with a BOUNDED
    * number in flight, returning results in input order. Member logs are
    * disjoint roots and every slice filters one already-materialized
    * frame, so the tasks share nothing but the Spark scheduler — and
    * Spark happily runs several jobs at once inside one application:
    * submitting the next member's jobs while the previous member's tail
    * tasks drain keeps the executors full instead of serializing on each
    * member's commit. The bound (default 4, [[MemberConcurrencyConf]])
    * keeps driver-side planning/commit work from piling up when a table
    * has hundreds of partitions; 1 restores the strictly sequential loop.
    * On the first failure no further member starts, and the call waits
    * for the members already in flight before rethrowing that failure:
    * no member task outlives the verb, so no member version lands after
    * the caller has seen the error (and released the frame it sliced).
    * Some members may have committed, but no cross-partition snapshot is
    * stamped unless every task returned.
    */
  private[sources] def mapMembers[T](vals: Seq[String])(f: String => T): Seq[(String, T)] =
    eachMember(vals)(v => v -> f(v))

  /** [[mapMembers]] over any per-member items — the one-pass DML runs its
    * driver-side member work (manifest reads, frame set-up, commits)
    * through the same bounded pool.
    */
  private def eachMember[A, T](items: Seq[A])(f: A => T): Seq[T] = {
    val bound = PartitionedVersionedTable.positiveIntConf(spark,
      PartitionedVersionedTable.MemberConcurrencyConf,
      PartitionedVersionedTable.DefaultMemberConcurrency)
    if (items.size <= 1 || bound == 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(items.size, bound))
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      try {
        val tasks = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[Option[T]] {
            def call(): Option[T] =
              if (failure.get != null) None // a member failed: start no more
              else {
                // job-group/conf thread-locals don't cross threads; pin
                // the session so child-thread reads resolve against it
                SparkSession.setActiveSession(spark)
                try Some(f(a))
                catch { case t: Throwable => failure.compareAndSet(null, t); throw t }
              }
          })
        }
        // drain EVERY task (skipped ones return at once) before deciding
        val results = tasks.map { t =>
          try t.get()
          catch { case _: java.util.concurrent.ExecutionException => None }
        }
        Option(failure.get).foreach(t => throw t)
        results.flatten
      } finally pool.shutdown()
    }
  }

  /** Overwrite the partitions present in `df` (dynamic-partition
    * overwrite); untouched partitions keep their data and history.
    * The frame is materialized once — the per-partition slices and the
    * values() probe must not re-run an expensive lineage per partition.
    * Returns the committed cross-partition snapshot id.
    */
  def overwrite(df: DataFrame): Long = {
    val (mat, release) = GraftColumnBridge.localCheckpointReleasable(df)
    try {
      // whole-frame check BEFORE any partition commits: rejection is
      // all-or-nothing (a per-shard check could leave a partial commit)
      VersionedTable.checkConstraints(mat, constraints, "overwrite")
      val committed = mapMembers(values(mat)) { v =>
        partitionUnchecked(v).overwrite(
          mat.filter(col(partitionCol).cast("string") === v))
      }
      commitSnapshot("overwrite", committed)
    } finally release()
  }

  /** Whole-table overwrite (`INSERT OVERWRITE` static semantics): the
    * partitions present in `df` get the new content, every OTHER existing
    * partition is overwritten EMPTY — the table's content after the
    * commit is exactly `df`. History stays per partition (time travel
    * still sees the pre-overwrite rows). Contrast [[overwrite]], which is
    * dynamic-partition overwrite (untouched partitions keep their data).
    */
  def overwriteAll(df: DataFrame): Long = {
    val (mat, release) = GraftColumnBridge.localCheckpointReleasable(df)
    try {
      VersionedTable.checkConstraints(mat, constraints, "overwrite")
      val touched = values(mat)
      val stale = partitions.filterNot(touched.contains)
      val committed = mapMembers(touched) { v =>
        partitionUnchecked(v).overwrite(
          mat.filter(col(partitionCol).cast("string") === v))
      } ++ mapMembers(stale)(v => partitionUnchecked(v).overwrite(mat.limit(0)))
      commitSnapshot("overwrite_all", committed)
    } finally release()
  }

  /** Blind append routed to the partitions present in `df`; partition
    * logs not present in the frame are never opened. A NEW partition
    * value creates its log with the slice as version 0. Returns the
    * committed cross-partition snapshot id.
    */
  def append(df: DataFrame): Long = {
    val (mat, release) = GraftColumnBridge.localCheckpointReleasable(df)
    try {
      VersionedTable.checkConstraints(mat, constraints, "append")
      val committed = mapMembers(values(mat)) { v =>
        partitionUnchecked(v).appendRetrying(
          mat.filter(col(partitionCol).cast("string") === v))
      }
      commitSnapshot("append", committed)
    } finally release()
  }

  /** MERGE `updates` into ONLY the partitions it touches; every other
    * partition's log is not even opened. The per-partition update sets are
    * disjoint slices of ONE materialized frame — the driver loop is over
    * partition VALUES (bounded by design: repo, month, source), not rows.
    * Returns the committed cross-partition snapshot id.
    *
    * The two delete arms follow the flat table's semantics with one
    * partition-layout caveat: matching is PER PARTITION (a target row and
    * an updates row with the same key in different partitions do not
    * match — the partition value is part of the row's identity, exactly
    * Delta with the partition column in the merge key). So the sync arm
    * (`deleteNotMatchedBySource`) must also visit partitions that receive
    * NO updates: every row there is unmatched, and the cond decides —
    * those partitions run a plain DELETE(cond), and partition pruning on
    * the cond keeps out-of-scope logs unopened.
    */
  def merge(updates: DataFrame, keyCols: Seq[String], orderCol: String,
            deleteWhen: Option[org.apache.spark.sql.Column] = None,
            deleteNotMatchedBySource: Option[org.apache.spark.sql.Column] = None): Long = {
    val (mat, release) = GraftColumnBridge.localCheckpointReleasable(updates)
    try {
    VersionedTable.checkConstraints(mat, constraints, "merge")
    val touched = values(mat)
    val committed = mapMembers(touched) { v =>
      partitionUnchecked(v).merge(
        mat.filter(col(partitionCol).cast("string") === v), keyCols, orderCol,
        deleteWhen = deleteWhen,
        deleteNotMatchedBySource = deleteNotMatchedBySource)
    }
    val syncOnly = deleteNotMatchedBySource match {
      case None => Nil
      case Some(cond) =>
        // untouched partitions: everything is not-matched-by-source; the
        // cond's partition bounds prune which logs even open
        mapMembers(partitionsFor(cond).filterNot(touched.contains))(v =>
          partitionUnchecked(v).delete(cond))
    }
    commitSnapshot("merge", committed ++ syncOnly)
    } finally release()
  }

  /** Clause-faithful MERGE INTO routed to per-partition logs — the SQL
    * `MERGE INTO` form of [[merge]]. `srcPartValue` is the source-side
    * expression the ON condition equates with the partition column (the
    * rule that makes per-partition matching EQUAL global matching: a
    * target row in partition p can only ever match source rows whose
    * `srcPartValue` is p). Each source row's value names its member; one
    * [[onePass]] applies the clauses to every touched member at once, and
    * untouched logs are not even opened — unless a NOT MATCHED BY SOURCE
    * arm exists, which must visit every partition (all their rows are
    * unmatched; the clause conditions decide).
    *
    * INSERT arms must assign the partition column, and a distributed
    * guard raises if an inserted row's value disagrees with its ON-routed
    * partition (the row would otherwise land in a log that partition
    * pruning would never associate with it). UPDATE arms may not assign
    * the partition column (rows cannot move between logs). A source slice
    * for a partition value with no log yet creates it (version 0 =
    * `tableSchema`, then the merge commit).
    */
  def mergeInto(source: DataFrame, srcPartValue: Column, condition: Column,
                matched: Seq[VersionedTable.MergeIntoAction] = Nil,
                notMatched: Seq[VersionedTable.MergeIntoAction] = Nil,
                notMatchedBySource: Seq[VersionedTable.MergeIntoAction] = Nil,
                schemaForNewPartitions: Option[StructType] = None): Long = {
    (matched ++ notMatchedBySource).foreach {
      case u: VersionedTable.MergeIntoUpdate =>
        require(!u.set.contains(partitionCol),
          s"cannot UPDATE the partition column $partitionCol " +
            "(rows cannot move between partition logs)")
      case _ => ()
    }
    // the ON-routed partition of a source row IS its member: an INSERT
    // arm must land the row there or raise, never in another log
    val guardedInserts = notMatched.map {
      case VersionedTable.MergeIntoInsert(c, vals) =>
        val pv = vals.getOrElse(partitionCol,
          throw new IllegalArgumentException(
            s"MERGE INSERT on a partitioned table must assign $partitionCol"))
        VersionedTable.MergeIntoInsert(c, vals + (partitionCol ->
          when(pv.cast("string") === col(SrcMember), pv).otherwise(raise_error(
            concat(lit(s"MERGE INSERT row's $partitionCol ("),
              pv.cast("string"),
              lit(") must equal its ON-routed partition '"), col(SrcMember),
              lit("'"))))))
      case other => other
    }
    val (mat, release) = GraftColumnBridge.localCheckpointReleasable(source)
    try {
      val existing = partitions
      val srcValues = collectValuesBounded(
        mat.select(srcPartValue.cast("string").as("p")).distinct(),
        "MERGE partition routing")
      // a source-only partition value matters ONLY if an INSERT arm could
      // route rows into it — without one, creating (and forever carrying)
      // an empty log for it would be pure litter
      val touched =
        if (notMatched.nonEmpty) srcValues
        else srcValues.filter(existing.contains)
      createMembers(touched.filterNot(existing.contains), schemaForNewPartitions)
      // NOT MATCHED BY SOURCE arms also visit every other member: all of
      // its rows are unmatched there, and the clause conditions decide
      val rest =
        if (notMatchedBySource.isEmpty) Nil
        else existing.filterNot(touched.contains)
      val committed = onePass("merge_into", touched ++ rest)(mergePass(
        mat.withColumn(SrcMember, srcPartValue.cast("string")), condition,
        matched, guardedInserts, notMatchedBySource))
      commitSnapshot("merge_into", committed)
    } finally release()
  }

  /** GLOBAL `MERGE INTO` — the textbook `ON t.id = s.id` WITHOUT the
    * partition conjunct [[mergeInto]]'s fast path requires. The routing
    * the conjunct would have declared is DERIVED in one distributed
    * pass: the source joins the table's (ON-columns, partition) rows —
    * Catalyst column-prunes the probe scan to exactly those columns —
    * so each source row learns which partition logs hold its matches;
    * source rows matching NOWHERE route by their first-true INSERT arm's
    * partition assignment (NOT MATCHED arms reference only the source,
    * so the routing value IS the value the arm would insert). One
    * [[onePass]] then applies every arm to every routed member — a
    * member receiving both updates and inserts commits one version — and
    * NOT MATCHED BY SOURCE arms visit the remaining logs, exactly the
    * fast path's sync sweep. Per-partition matching over match-routed
    * slices EQUALS global matching: a target row's matches are, by
    * construction, all in its own slice.
    *
    * Semantics note: duplicate source rows that match a target raise the
    * cardinality violation exactly as flat MERGE does — including
    * IDENTICAL duplicates, which the routing join alone could not
    * distinguish from the legal one-source-row-matches-many-targets
    * multiplicity (a source-side multiplicity count restores the
    * distinction). The same SQL behaves identically with and without
    * the partition conjunct. Keep the conjunct in ON when you can — it
    * skips the probe pass entirely.
    *
    * Guarded corner: an UPDATE arm (MATCHED or NOT MATCHED BY SOURCE)
    * that rewrites a column the ON condition references, combined with
    * an INSERT arm, rejects loudly. The one pass would evaluate ON
    * against the original rows for both arms; the guard stays so such a
    * statement keeps its outcome until lifting it is a change of its own.
    */
  def mergeIntoGlobal(source: DataFrame, condition: Column,
                      matched: Seq[VersionedTable.MergeIntoAction] = Nil,
                      notMatched: Seq[VersionedTable.MergeIntoAction] = Nil,
                      notMatchedBySource: Seq[VersionedTable.MergeIntoAction] = Nil,
                      schemaForNewPartitions: Option[StructType] = None): Long = {
    (matched ++ notMatchedBySource).foreach {
      case u: VersionedTable.MergeIntoUpdate =>
        require(!u.set.contains(partitionCol),
          s"cannot UPDATE the partition column $partitionCol " +
            "(rows cannot move between partition logs)")
      case _ => ()
    }
    if (notMatched.nonEmpty) {
      val onRefs = GraftColumnBridge.expression(condition).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }.toSet
      // covers NOT MATCHED BY SOURCE updates too (see the guarded corner
      // in this method's doc)
      (matched ++ notMatchedBySource).foreach {
        case u: VersionedTable.MergeIntoUpdate =>
          val hit = u.set.keySet.intersect(onRefs)
          require(hit.isEmpty,
            s"global MERGE (no partition conjunct) cannot combine an INSERT " +
              s"arm with an UPDATE (MATCHED or NOT MATCHED BY SOURCE) of " +
              s"ON-referenced column(s) " +
              s"${hit.toSeq.sorted.mkString(", ")}; add the partition " +
              "conjunct or avoid rewriting join keys")
        case _ => ()
      }
    }
    val (mat0, release) = GraftColumnBridge.localCheckpointReleasable(source)
    try {
      val existing = partitions
      val srcCols = mat0.columns.toSeq
      // ONE pass: (source row, matched partition) — the probe scan
      // column-prunes to the ON columns + the partition column, and the
      // join is whatever equi-strategy Catalyst extracts from ON. An
      // EMPTY table (CREATE before first INSERT — the bootstrap merge)
      // has nothing to probe: every source row is unmatched by
      // construction and routes straight to its INSERT arm.
      val routed = graft.operators.SharedPass.materialize(
        if (existing.isEmpty)
          mat0.withColumn("__mg_part", lit(null).cast("string"))
        else
          mat0.join(read(), condition, "left")
            .select(srcCols.map(mat0(_)) :+
              col(partitionCol).cast("string").as("__mg_part"): _*))
      val matchedSlices = routed.filter(col("__mg_part").isNotNull)
        .dropDuplicates(srcCols :+ "__mg_part")
      // flat MERGE raises when a target row is matched by more than one
      // source row — IDENTICAL duplicates included — but ONLY when
      // matched clauses exist (without them nothing ambiguous applies
      // and the member merge dedups instead; see mergeInto's cardinality
      // rule). After the probe join, duplicate-source multiplicity is
      // indistinguishable from the LEGAL one-source-row-matches-many-
      // targets multiplicity, which is exactly why the dropDuplicates
      // above exists — so detect identical duplicates on the SOURCE side
      // and refuse them when any of them matched: the same SQL must not
      // succeed here and raise in the partition-conjunct fast path.
      if (matched.nonEmpty) {
        val dupSrc = mat0.groupBy(srcCols.map(mat0(_)): _*)
          .agg(count(lit(1)).as("__mg_mult"))
          .filter(col("__mg_mult") > 1).drop("__mg_mult")
        // null-safe equality: an identical duplicate with a NULL column
        // is still a duplicate (plain = would let it slip through)
        val dupMatched = matchedSlices.join(dupSrc,
          srcCols.map(c => matchedSlices(c) <=> dupSrc(c)).reduce(_ && _),
          "left_semi")
        if (!dupMatched.isEmpty)
          throw new IllegalStateException(
            "MERGE INTO: a target row matched multiple source rows " +
              "(cardinality violation) — the source contains identical " +
              "duplicate rows that matched a target; deduplicate the " +
              "source first (global MERGE enforces the same contract as " +
              "the partition-conjunct fast path)")
      }
      val touchedVals = collectValuesBounded(
        matchedSlices.select(col("__mg_part")).distinct(),
        "global MERGE match routing")
      // unmatched-anywhere rows insert into their arm-assigned partition
      val insertArms = notMatched.collect {
        case VersionedTable.MergeIntoInsert(c, vals) =>
          (c.getOrElse(lit(true)), vals.getOrElse(partitionCol,
            throw new IllegalArgumentException(
              s"MERGE INSERT on a partitioned table must assign $partitionCol")))
      }
      val inserts: Option[(DataFrame, Seq[String])] =
        Option.when(insertArms.nonEmpty) {
          // a null remaining AFTER the fold means no arm fired (the row
          // legitimately inserts nowhere); an arm that FIRES with a null
          // partition value raises — the fast path's validate(null)
          // contract, never a silent row drop
          val route = insertArms.foldRight(lit(null).cast("string")) {
            case ((c, pv), els) =>
              when(c, when(pv.cast("string").isNull, raise_error(lit(
                s"MERGE INSERT row's $partitionCol is NULL — a partitioned " +
                  "table cannot route a null partition value")))
                .otherwise(pv.cast("string")))
                .otherwise(els)
          }
          val ins = graft.operators.SharedPass.materialize(
            routed.filter(col("__mg_part").isNull).drop("__mg_part")
              .withColumn("__mg_part", route)
              .filter(col("__mg_part").isNotNull))
          (ins, collectValuesBounded(ins.select(col("__mg_part")).distinct(),
            "global MERGE insert routing"))
        }
      val insVals = inserts.map(_._2).getOrElse(Nil)
      createMembers(insVals.filterNot(existing.contains), schemaForNewPartitions)
      // every routed source row carries its member; one pass then applies
      // all arms per member, so a member receiving both matched rows and
      // inserts commits ONE version. An INSERT-only merge (insert-if-
      // absent, the common idempotent load) has nothing to apply to
      // matched rows: their members must not even commit a version.
      val members = (
        (if (matched.isEmpty && notMatchedBySource.isEmpty) Nil else touchedVals) ++
          insVals ++
          (if (notMatchedBySource.isEmpty) Nil else existing)).distinct.sorted
      val passSrc = (matchedSlices +: inserts.map(_._1).toSeq)
        .map(_.withColumnRenamed("__mg_part", SrcMember))
        .reduce(_ unionByName _)
      // the matched slices sit above a dropDuplicates shuffle: store them
      // once instead of re-running it for discovery, rewrite and inserts
      val (src, releaseSrc) = GraftColumnBridge.localCheckpointReleasable(passSrc)
      try {
        val committed = onePass("merge_into", members)(mergePass(src,
          condition, matched, notMatched, notMatchedBySource))
        commitSnapshot("merge_into", committed)
      } finally releaseSrc()
    } finally release()
  }

  /** The table's logical schema — every partition commits the same one
    * (writes are whole-frame slices), so the first partition's answers.
    * None while the table has no partitions (the catalog layer keeps the
    * schema in the `_partitioning.json` marker for that window).
    */
  def tableSchema: Option[StructType] =
    partitions.headOption.flatMap(v => partition(v).tableSchema)

  /** Row-level DELETE across partitions. `partitionsHint` restricts the
    * sweep to the named partition values (the partition-predicate
    * discipline: a delete known to touch only `repo=x` should not even
    * open other logs — and without the hint every partition commits at
    * least a no-op version). Copy-on-write runs as one [[onePass]] with
    * each member's flat [[VersionedTable.delete]] semantics; with
    * `useDeletionVectors` (merge-on-read, no rewrite) each member writes
    * its own deletion vector. Returns the cross-partition snapshot id.
    */
  def delete(predicate: org.apache.spark.sql.Column,
             useDeletionVectors: Boolean = false,
             partitionsHint: Seq[String] = Nil): Long = {
    val targets =
      if (partitionsHint.nonEmpty) partitionsHint.map(validate).sorted
      else partitions
    val committed =
      if (useDeletionVectors)
        mapMembers(targets)(v =>
          partitionUnchecked(v).delete(predicate, useDeletionVectors = true))
      else onePass("delete", targets)(deletePass(predicate))
    commitSnapshot(if (useDeletionVectors) "delete_dv" else "delete", committed)
  }

  /** Row-level UPDATE across partitions; `partitionsHint` as in
    * [[delete]]. Assignments to the partition column are rejected — a
    * row's partition value must be stable (see the class contract), and a
    * per-partition UPDATE could not move rows between logs. CHECK
    * constraints are enforced per partition on the post-image.
    * Returns the cross-partition snapshot id.
    */
  def update(predicate: org.apache.spark.sql.Column,
             assignments: Map[String, org.apache.spark.sql.Column],
             partitionsHint: Seq[String] = Nil): Long = {
    require(!assignments.contains(partitionCol),
      s"cannot UPDATE the partition column $partitionCol (rows cannot move between partition logs)")
    val targets =
      if (partitionsHint.nonEmpty) partitionsHint.map(validate).sorted
      else partitions
    val committed = mapMembers(targets)(v =>
      partition(v).update(predicate, assignments))
    commitSnapshot("update", committed)
  }

  /** Union of every partition's latest snapshot (no cross-partition
    * consistency guarantee — use [[readSnapshot]] for that).
    */
  /** Metadata-only RENAME COLUMN across every partition — one manifest
    * write per partition log, zero data I/O. Partition logs are
    * independent, so the loop is NOT atomic across partitions; it IS
    * idempotent: a partition already carrying `newName` (from a crashed
    * earlier attempt) is skipped, so re-running converges. The partition
    * column itself is path-encoded and cannot be renamed. Partitions
    * created after the rename inherit nothing — writes route by the NEW
    * logical name, and a fresh partition's physical schema is simply the
    * new name (identity mapping), which reads identically.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(oldName != partitionCol && newName != partitionCol,
      s"cannot rename the partition column '$partitionCol' (path-encoded)")
    partitions.foreach { v =>
      val vt = partition(v)
      val logical = vt.tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      if (!logical.contains(newName)) vt.renameColumn(oldName, newName)
    }
    PartitionedVersionedTable.readMarker(spark, root).foreach { case (c, sch, st) =>
      PartitionedVersionedTable.writeMarker(spark, root, c, StructType(
        sch.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f)), st)
    }
  }

  /** Metadata-only ADD COLUMN across every partition; same idempotent
    * non-atomic loop contract as [[renameColumn]]. Pre-add dirs in every
    * partition read the column as null.
    */
  def addColumn(name: String, dataType: DataType): Unit = {
    require(name != partitionCol,
      s"column '$name' clashes with the partition column")
    partitions.foreach { v =>
      val vt = partition(v)
      val logical = vt.tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      if (!logical.contains(name)) vt.addColumn(name, dataType)
    }
    PartitionedVersionedTable.readMarker(spark, root).foreach { case (c, sch, st) =>
      if (!sch.fieldNames.contains(name))
        PartitionedVersionedTable.writeMarker(spark, root, c, StructType(
          sch.fields :+ org.apache.spark.sql.types.StructField(
            name, dataType, nullable = true)), st)
    }
  }

  /** Metadata-only ALTER COLUMN TYPE (lossless widening) across every
    * partition; same idempotent non-atomic loop contract as
    * [[renameColumn]] — a partition already committed at the target type
    * (a crashed earlier attempt) is skipped, so re-running converges.
    * Each member enforces [[VersionedTable.widenColumn]]'s lossless-chain
    * rule; the partition column itself is path-encoded and cannot widen.
    */
  def widenColumn(name: String, newType: DataType): Unit = {
    require(name != partitionCol,
      s"cannot widen the partition column '$partitionCol' (path-encoded)")
    partitions.foreach { v =>
      val vt = partition(v)
      val already = vt.tableSchema.exists(_.fields.exists(f =>
        f.name == name && f.dataType == newType))
      if (!already) vt.widenColumn(name, newType)
    }
    PartitionedVersionedTable.readMarker(spark, root).foreach { case (c, sch, st) =>
      PartitionedVersionedTable.writeMarker(spark, root, c, StructType(
        sch.fields.map(f => if (f.name == name) f.copy(dataType = newType)
          else f)), st)
    }
  }

  /** Metadata-only DROP COLUMN across every partition; same idempotent
    * non-atomic loop contract as [[renameColumn]].
    */
  def dropColumn(name: String): Unit = {
    require(name != partitionCol,
      s"cannot drop the partition column '$partitionCol' (path-encoded)")
    partitions.foreach { v =>
      val vt = partition(v)
      val logical = vt.tableSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      if (logical.contains(name)) vt.dropColumn(name)
    }
    PartitionedVersionedTable.readMarker(spark, root).foreach { case (c, sch, st) =>
      PartitionedVersionedTable.writeMarker(spark, root, c, StructType(
        sch.fields.filterNot(_.name == name)), st)
    }
  }

  def read(): DataFrame = {
    val parts = partitions
    require(parts.nonEmpty, s"no partitions at $root")
    parts.map(v => partition(v).read()).reduce(_ unionByName _)
  }

  /** Transparent two-level data skipping: partition pruning from whatever
    * bounds the predicate yields on the PARTITION column (equality, IN
    * envelope, ranges, prefixes — [[VersionedTable.readWhere]]'s
    * extraction, compared in UTF8 order like the string partition values),
    * then per-partition DIR pruning via each member table's `readWhere`.
    * A predicate `partitionCol === "x" && …` therefore opens exactly one
    * partition log — the layout's reason to exist — while arbitrary
    * predicates degrade to reading every partition, never to wrong rows.
    */
  def readWhere(predicate: org.apache.spark.sql.Column): DataFrame = {
    require(partitions.nonEmpty, s"no partitions at $root")
    val kept = partitionsFor(predicate)
    if (kept.isEmpty) read().limit(0).filter(predicate)
    else kept.map(v => partition(v).readWhere(predicate))
      .reduce(_ unionByName _)
  }

  /** The partition values [[readWhere]] would open for `predicate` —
    * exposed so specs can pin partition-level pruning.
    */
  private[graft] def partitionsFor(predicate: org.apache.spark.sql.Column): Seq[String] = {
    val parts = partitions
    if (parts.isEmpty) return Nil
    val first = partition(parts.head)
    val schema = first.tableSchema.getOrElse(first.read().schema)
    // compare in the partition COLUMN's stat domain, not blindly as
    // strings: an INT column's dirs are '9'/'10', and a UTF8 compare of
    // those against an extracted bound '9' would wrongly prune '10' for
    // `id >= 9`. extractBounds renders literals into the same domain
    // (int/num/dec as decimal text), so the dir name — the canonical
    // string cast of the value — parses in it. Anything that doesn't
    // parse (or a column absent from the schema) fails OPEN: the
    // partition is kept, never wrongly dropped.
    val kind =
      schema.fields.find(_.name == partitionCol)
        .map(f => VersionedTable.statKind(f.dataType)).getOrElse("str")
    VersionedTable.resolveCondition(spark, schema, predicate) match {
      case None => parts
      case Some(cond) =>
        // NOT pushes to the leaves here too: `repo <> 'x'` complements to
        // (< OR >), which drops exactly the 'x' partition
        val pruneTree = VersionedTable.pushNotDown(cond)
        parts.filter { v =>
        VersionedTable.mayMatch(pruneTree, (c, lo, hi) =>
          c != partitionCol || { // only partition-column bounds can prune
            try {
              !(lo.exists { l =>
                val cm = VersionedTable.statCompare(kind, v, l.v)
                cm < 0 || (cm == 0 && !l.inclusive)
              } || hi.exists { h =>
                val cm = VersionedTable.statCompare(kind, v, h.v)
                cm > 0 || (cm == 0 && !h.inclusive)
              })
            } catch { case scala.util.control.NonFatal(_) => true }
          },
          // a partition is one constant value: `<> v` prunes exactly it
          // — judged in the same domain, failing open on any parse error
          neqTest = (c, nv) => c != partitionCol || {
            try VersionedTable.statCompare(kind, v, nv) != 0
            catch { case scala.util.control.NonFatal(_) => true }
          })
      }
    }
  }

  /** Metadata-only count across partitions: sum of each partition table's
    * row ledger ([[VersionedTable.metadataCount]]); None as soon as ANY
    * partition declines (live DVs, untracked dirs) — the cross-partition
    * answer is only exact if every member's is.
    */
  def metadataCount(): Option[Long] = {
    val parts = partitions
    if (parts.isEmpty) None
    else {
      val counts = parts.flatMap(v => partition(v).metadataCount())
      if (counts.size == parts.size) Some(counts.sum) else None
    }
  }

  // ------------------------------------------------------ one-pass DML

  /** Create the member logs `vals` with an empty version 0 in the table
    * schema, so a MERGE can insert into a partition that has no log yet.
    */
  private def createMembers(vals: Seq[String],
                            schemaForNewPartitions: Option[StructType]): Unit =
    if (vals.nonEmpty) {
      val sch = schemaForNewPartitions.orElse(tableSchema).getOrElse(
        throw new IllegalStateException(
          s"cannot create partition $partitionCol=${vals.head}: no schema " +
            s"known (empty table at $root and none supplied)"))
      mapMembers(vals)(v => partitionUnchecked(v).overwrite(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sch)))
    }

  /** Runs after a one-pass DML's write and before its member commits,
    * with the pass's member values — lets specs inject a concurrent
    * commit or a crash at that point.
    */
  @volatile private[graft] var beforeMemberCommits: Seq[String] => Unit = _ => ()

  /** Copy-on-write DML over the member logs `vals` in ONE pass instead of
    * one pipeline per member. `build` gets the members (each with the
    * manifest the pass read) and returns each one's [[MemberPlan]] plus
    * the post-image of every rewriting member: its physical columns and
    * [[PassMemberCol]] naming the member. That frame is written ONCE,
    * clustered by member, under `<root>/_staging/dml-<uuid>/`, observing
    * every member's row/stats ledger during the write. Each member's
    * staged dir then moves into its log and commits conditional on the
    * version the pass read ([[VersionedTable.commitStagedDir]]); a member
    * that loses to a concurrent writer re-runs the same pass alone, up to
    * four more times. Members whose physical layouts differ (schema or
    * column mapping) run as separate passes, one per layout, and at most
    * [[PassMembers]] members share a pass, which bounds the observed
    * aggregates. Returns (member, committed version) for every member.
    */
  private def onePass(op: String, vals: Seq[String])(
      build: Seq[PassMember] => (Seq[MemberPlan], Option[DataFrame])): Seq[(String, Long)] = {
    val (done, lost) = vals.grouped(PassMembers).toSeq
      .map(passOnce(op, _, build)).unzip
    done.flatten ++ lost.flatten.map { v =>
      partitionUnchecked(v).withConflictRetry(4) {
        passOnce(op, Seq(v), build) match {
          case (Seq(c), Nil) => c
          case _ => throw new VersionedTable.ConcurrentWriteException(
            s"$op on $partitionCol=$v lost to a concurrent writer again", null)
        }
      }
    }
  }

  /** One pass over `vals` (split by physical layout); returns the
    * committed members and the ones that lost their commit.
    */
  private def passOnce(op: String, vals: Seq[String],
                       build: Seq[PassMember] => (Seq[MemberPlan], Option[DataFrame]))
      : (Seq[(String, Long)], Seq[String]) = {
    val members = eachMember(vals) { v =>
      val vt = partitionUnchecked(v)
      PassMember(v, vt, vt.latestManifest)
    }
    val (done, lost) = members
      .groupBy(pm => (pm.base.schemaJson, pm.base.colMap)).values.toSeq
      .map(ms => runPass(op, ms, build)).unzip
    (done.flatten, lost.flatten)
  }

  private def runPass(op: String, members: Seq[PassMember],
                      build: Seq[PassMember] => (Seq[MemberPlan], Option[DataFrame]))
      : (Seq[(String, Long)], Seq[String]) = {
    val (plans, post) = build(members)
    val staging = new Path(root, s"_staging/$StagingPrefix${java.util.UUID.randomUUID()}")
    try {
      val written = post.map { df =>
        val vt0 = members.head.vt
        val present = vt0.trackedStatsIn(df.columns.toSeq)
        val aggs = members.zipWithIndex.flatMap { case (pm, i) =>
          vt0.memberLedgerAggs(df, present, col(PassMemberCol) === pm.v, s"__m$i")
        }
        val obs = new org.apache.spark.sql.Observation(
          s"pvt_stats_${java.util.UUID.randomUUID().toString.take(8)}")
        df.observe(obs, aggs.head, aggs.tail: _*)
          .write.partitionBy(PassMemberCol).mode("overwrite")
          .option("compression", "zstd").parquet(staging.toString)
        (StructType(df.schema.filterNot(_.name == PassMemberCol)), obs.get)
      }
      beforeMemberCommits(members.map(_.v))
      val outcomes = eachMember(members.zip(plans).zipWithIndex) { case ((pm, plan), i) =>
        try Right(pm.v -> (plan match {
          case Noop => pm.vt.commitNoop(pm.base, op)
          case r: Rewrite =>
            val (schema, ledger) = written.get
            val observed = (name: String) => ledger.get(s"__m$i$name")
            val rows = observed("__rows").fold(0L)(_.asInstanceOf[Long])
            if (r.unchangedAt.contains(rows)) pm.vt.commitNoop(pm.base, op)
            else if (rows == 0L)
              // the partitioned write makes no dir for an empty member;
              // an empty post-image still commits an (empty) dir
              pm.vt.commitRewrite(pm.base, op, r.keep, spark.createDataFrame(
                new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
            else pm.vt.commitStagedDir(pm.base, op, r.keep,
              new Path(staging, s"$PassMemberCol=${pm.v}"), schema, observed)
        }))
        catch {
          case _: VersionedTable.ConcurrentWriteException => Left(pm.v)
        }
      }
      (outcomes.collect { case Right(c) => c }, outcomes.collect { case Left(v) => v })
    } finally {
      fs.delete(staging, true)
      try {
        val parent = staging.getParent
        if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
          fs.delete(parent, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The `dirs` of several members as ONE relation (a pass's members
    * share a physical layout): one scan packs all their files into tasks
    * together instead of a union of one scan per member. Each row carries
    * its member in [[TgtMember]], looked up by its file's dir token.
    */
  private def readMembers(parts: Seq[(PassMember, Seq[String])]): DataFrame = {
    val owner = typedLit(parts.flatMap { case (pm, dirs) =>
      dirs.map(d => VersionedTable.dirTokenRe.r.findFirstMatchIn(d)
        .fold(d)(_.group(1)) -> pm.v)
    }.toMap)
    val first = parts.head._1
    first.vt.readPathsWithPos(first.base,
      parts.flatMap { case (pm, dirs) => pm.vt.dirPathsOf(dirs) },
      parts.flatMap { case (pm, _) => pm.vt.dvPathsOf(pm.base) })
      .withColumn(TgtMember, owner(regexp_extract(
        col(VersionedTable.dvFileCol), VersionedTable.dirTokenRe, 1)))
  }

  /** The dirs of `pm` holding rows discovery found (dir tokens carry a
    * random suffix, so one token set serves every member).
    */
  private def hitDirs(pm: PassMember, tokens: Set[String]): Seq[String] =
    pm.base.dataDirs.filter(d => VersionedTable.matchesToken(d, tokens))

  /** [[onePass]] plan of a copy-on-write DELETE — per member the flat
    * [[VersionedTable.delete]]: a single-dir member rewrites its survivors
    * directly (and commits metadata-only when the count shows nothing
    * matched); the rest share one discovery job, and only hit dirs
    * rewrite.
    */
  private def deletePass(predicate: Column)(ms: Seq[PassMember])
      : (Seq[MemberPlan], Option[DataFrame]) = {
    val pred = ms.head.vt.physicalPredicate(ms.head.base, predicate)
    val probed = ms.filter(pm =>
      pm.vt.fusedDeleteRows(pm.base).isEmpty && pm.base.dataDirs.nonEmpty)
    val tokens =
      if (probed.isEmpty) Set.empty[String]
      else VersionedTable.hitDirTokens(
        readMembers(probed.map(pm => pm -> pm.base.dataDirs)).filter(pred))
    val plans = ms.map { pm =>
      pm.vt.fusedDeleteRows(pm.base) match {
        case Some(total) => Rewrite(pm.base.dataDirs, Nil, Some(total))
        case None =>
          val hit = hitDirs(pm, tokens)
          if (hit.isEmpty) Noop
          else Rewrite(hit, pm.base.dataDirs.filterNot(hit.contains))
      }
    }
    val post = eachMember(ms.zip(plans).collect { case (pm, r: Rewrite) => (pm, r) }) {
      case (pm, r) => pm.vt.readDirsOf(pm.base, r.hit).filter(!pred)
        .withColumn(PassMemberCol, lit(pm.v))
    }.reduceOption(_ unionByName _)
    (plans, post)
  }

  /** [[onePass]] plan of MERGE INTO — per member the flat
    * [[VersionedTable.mergeInto]] with the same shared clause logic, all
    * members at once: `src` is the (stable) source with each row's member
    * in [[SrcMember]], and every join adds member equality to ON, so a
    * target row only ever meets its own member's source rows.
    */
  private def mergePass(src: DataFrame, condition: Column,
                        matched: Seq[VersionedTable.MergeIntoAction],
                        notMatched: Seq[VersionedTable.MergeIntoAction],
                        notMatchedBySource: Seq[VersionedTable.MergeIntoAction])(
      ms: Seq[PassMember]): (Seq[MemberPlan], Option[DataFrame]) = {
    VersionedTable.checkMergeClauses(matched, notMatched, notMatchedBySource)
    def target(parts: Seq[(PassMember, Seq[String])]): DataFrame =
      ms.head.vt.toLogicalWithPos(ms.head.base, readMembers(parts), Seq(TgtMember))
    // every member's whole snapshot: what discovery probes, and what an
    // INSERT-only merge anti-joins against
    lazy val whole = target(ms.map(pm => pm -> pm.base.dataDirs))
    val fields = ms.head.vt.schemaOf(ms.head.base.version)
      .getOrElse(whole.drop(VersionedTable.dvFileCol, VersionedTable.dvRowCol,
        TgtMember).schema).fields.toSeq
    VersionedTable.requireNoShadow(src, fields)
    val s = src.filter(col(SrcMember).isin(ms.map(_.v): _*))
      .withColumn(VersionedTable.mergeSrcFlag, lit(true))
    val on = condition && col(TgtMember) === col(SrcMember)
    val tokens =
      if (notMatchedBySource.nonEmpty || matched.isEmpty) Set.empty[String]
      else VersionedTable.hitDirTokens(whole.join(s, on, "inner"))
    val plans = ms.map { pm =>
      val hit =
        if (notMatchedBySource.nonEmpty) pm.base.dataDirs
        else if (matched.nonEmpty) hitDirs(pm, tokens)
        else Nil
      if (hit.isEmpty && notMatched.isEmpty) Noop
      else Rewrite(hit, pm.base.dataDirs.filterNot(hit.contains))
    }
    val rewriting = ms.zip(plans).collect { case (pm, r: Rewrite) => (pm, r) }
    if (rewriting.isEmpty) (plans, None)
    else {
      // members with hit dirs rewrite through ONE join (their unmatched
      // source rows arrive as its source-only rows); the rest only insert
      val (hitParts, insertOnly) = rewriting.partition(_._2.hit.nonEmpty)
      def srcOf(members: Seq[(PassMember, Rewrite)]) =
        s.filter(col(SrcMember).isin(members.map(_._1.v): _*))
      val rewritten = Option.when(hitParts.nonEmpty)(VersionedTable.mergeJoined(
        target(hitParts.map { case (pm, r) => pm -> r.hit })
          .join(srcOf(hitParts), on, if (notMatched.isEmpty) "left_outer" else "full_outer"),
        src.columns.toSeq, fields, matched, notMatched, notMatchedBySource,
        Seq(coalesce(col(TgtMember), col(SrcMember)).as(PassMemberCol))))
      val inserted = Option.when(insertOnly.nonEmpty) {
        val srcMember = Seq(col(SrcMember).as(PassMemberCol))
        // discovery ran and found no match there: every source row inserts
        if (matched.nonEmpty || notMatchedBySource.nonEmpty)
          VersionedTable.mergeInserts(srcOf(insertOnly), fields, notMatched, srcMember)
        else VersionedTable.mergeInserts(srcOf(insertOnly).join(whole, on, "left_anti"),
          fields, notMatched, srcMember)
      }
      val post = (rewritten ++ inserted).reduce(_ unionByName _)
      VersionedTable.checkConstraints(post.drop(PassMemberCol), constraints,
        "merge_into")
      (plans, Some(ms.head.vt.physicalPostImage(ms.head.base, post,
        Seq(PassMemberCol))))
    }
  }

  // ----------------------------------------- cross-partition snapshots

  private def snapLogPath = new Path(root, "_snaplog")
  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed cross-partition snapshot ids, ascending. */
  def snapshots: Seq[Long] =
    if (!fs.exists(snapLogPath)) Seq.empty
    else fs.listStatus(snapLogPath).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted

  def latestSnapshot: Option[Long] = snapshots.lastOption

  /** O(1) existence probe of snapshot `id` — the sharded twin of
    * [[VersionedTable.versionExists]] (one stat, no `_snaplog` listing).
    */
  def snapshotExists(id: Long): Boolean =
    fs.exists(new Path(snapLogPath, f"$id%020d.json"))

  /** The partition→version vector recorded by snapshot `id`. Partitions
    * created after the snapshot are absent — by design, a snapshot never
    * grows.
    */
  def snapshotVersions(id: Long): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readFully(new Path(snapLogPath, f"$id%020d.json")))
    import scala.jdk.CollectionConverters._
    node.get("parts").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  /** Consistent multi-partition read: every partition at the EXACT version
    * the snapshot recorded, regardless of later commits.
    */
  def readSnapshot(id: Long): DataFrame = {
    val vec = snapshotVersions(id)
    require(vec.nonEmpty, s"snapshot $id records no partitions")
    vec.toSeq.sortBy(_._1)
      .map { case (v, ver) => partition(v).readVersion(ver) }
      .reduce(_ unionByName _)
  }

  /** Snapshot-aware vacuum: drop cross-partition snapshots older than the
    * newest `keepSnapshots`, then vacuum each partition keeping EXACTLY
    * the versions still referenced by a live snapshot (plus each
    * partition's latest) — a partition vacuum on its own could delete a
    * version an older snapshot pins, silently breaking [[readSnapshot]].
    */
  /** Compact every partition's accumulated delta dirs (each member's
    * [[VersionedTable.compact]]) and record ONE cross-partition snapshot
    * of the compacted state. Content is untouched — layout maintenance
    * only, per log.
    */
  def compactAll(): Long = {
    val committed = partitions.map(v => v -> partition(v).compact())
    commitSnapshot("compact", committed)
  }

  /** Cluster every partition's data by `clusterCols` (each member's
    * [[VersionedTable.compactClustered]] — Z-order/Hilbert within the
    * shard) under one cross-partition snapshot: the full 100 TB layout —
    * partition by the routing key (repo/source/date), cluster by the
    * probe key inside each log. The partition column itself cannot be a
    * cluster column (it is constant within a member).
    */
  def optimizeAll(clusterCols: Seq[String], nChunks: Int = 16,
                  curve: String = "z"): Long = {
    require(!clusterCols.contains(partitionCol),
      s"cluster columns cannot include the partition column $partitionCol " +
        "(constant within each log)")
    val committed = partitions.map(v =>
      v -> partition(v).compactClustered(clusterCols, nChunks, curve))
    commitSnapshot("optimize", committed)
  }

  def vacuum(keepSnapshots: Int = 2,
             orphanRetentionMs: Long = 60 * 60 * 1000L): Unit = {
    require(keepSnapshots >= 1, "must keep at least the latest snapshot")
    val snaps = snapshots
    vacuumSnapshotSet(
      snaps.takeRight(keepSnapshots).toSet, orphanRetentionMs)
  }

  /** Keep-SET vacuum twin (the [[VersionedTable.vacuumKeeping]] shape):
    * keep exactly the named snapshots (plus the latest — dropping the
    * current state is never vacuum's job), drop the rest, then vacuum
    * each member keeping the versions the survivors pin. The
    * cross-table transaction log ([[MultiTableTxn.vacuum]]) feeds this
    * with its pinned snapshot ids so a manifest over a SHARDED member
    * can never lose a pinned state to the member's own retention.
    */
  def vacuumKeepingSnapshots(keep: Set[Long],
                             orphanRetentionMs: Long = 60 * 60 * 1000L): Unit =
    vacuumSnapshotSet(keep ++ latestSnapshot, orphanRetentionMs)

  private def vacuumSnapshotSet(keepAll: Set[Long],
                                orphanRetentionMs: Long): Unit = {
    val snaps = snapshots
    val (drop, keep) = snaps.partition(id => !keepAll.contains(id))
    val keepVecs = keep.map(snapshotVersions)
    drop.foreach(id =>
      fs.delete(new Path(snapLogPath, f"$id%020d.json"), false))
    partitions.foreach { v =>
      partition(v).vacuumKeeping(keepVecs.flatMap(_.get(v)).toSet,
        orphanRetentionMs)
    }
    // a one-pass DML that died between its staged write and its cleanup
    // leaves its staging dir; sweep those past the in-flight window
    val staging = new Path(root, "_staging")
    val cutoff = System.currentTimeMillis() - orphanRetentionMs
    if (fs.exists(staging))
      fs.listStatus(staging)
        .filter(st => st.getPath.getName.startsWith(StagingPrefix) &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Cross-partition DESCRIBE DETAIL facts:
    * `(version, operation, timestampMs, numDataDirs, numRows, sizeBytes,
    * liveDvs)`. The identity facts come from the latest coordinator
    * snapshot when one exists (the only cross-partition consistency
    * anchor); absent snapshots the version reports -1 with operation
    * "partitioned" and the newest member commit's timestamp. The size
    * facts sum the member manifests/ledgers — `numRows` is None the
    * moment ANY member can't answer from metadata (live DVs, pre-tracking
    * dirs), same discipline as the flat [[VersionedTable.detail]].
    */
  def detailAll(): (Long, String, Long, Int, Option[Long], Long, Int) = {
    val ds = partitions.map(partition)
      .filter(_.latestVersion.nonEmpty).map(_.detail())
    require(ds.nonEmpty, s"no committed partition at $root")
    val rows =
      if (ds.forall(_.numRows.nonEmpty)) Some(ds.flatMap(_.numRows).sum)
      else None
    val (id, op, ts) = latestSnapshot match {
      case Some(s) =>
        val (o, t, _) = snapshotDetail(s); (s, o, t)
      case None => (-1L, "partitioned", ds.map(_.timestampMs).max)
    }
    (id, op, ts, ds.map(_.numDataDirs).sum, rows, ds.map(_.sizeBytes).sum,
      ds.map(_.liveDvs).sum)
  }

  /** Cross-partition scan report — what a predicate read would open, at
    * BOTH pruning grains. Partition pruning runs first: a pruned member's
    * LOG is never opened, and it reports exactly one row
    * (`<col>=<value>`, opened=false, null ledgers — the report must not
    * pay the metadata read the scan itself skips). Surviving members
    * delegate to their own dir-grain [[VersionedTable.scanReport]], each
    * dir prefixed with its partition. Driver-side rows are dir-grain
    * metadata — bounded by layout, never data-sized.
    */
  def scanReport(predicate: org.apache.spark.sql.Column): DataFrame = {
    require(partitions.nonEmpty, s"no partitions at $root")
    val keep = partitionsFor(predicate).toSet
    val rows = partitions.flatMap { v =>
      val prefix = s"$partitionCol=$v"
      if (!keep.contains(v))
        Seq((prefix, false, Option.empty[Long], Option.empty[Long],
          Option(0L)))
      else partition(v).scanReport(predicate).collect().toSeq.map(r =>
        (s"$prefix/${r.getString(0)}", r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
    }
    import spark.implicits._
    rows.toDF("dir", "opened", "ledger_rows", "files_total", "files_opened")
  }

  /** Restore the TABLE to cross-partition snapshot `id`, metadata-only:
    * every member the snapshot records replays its recorded version (the
    * flat [[VersionedTable.restore]] — a new commit referencing the old
    * manifest, history intact), and a member CREATED AFTER the snapshot
    * restores to EMPTY (a zero-row overwrite — "table state = snapshot
    * state" must not leave post-snapshot partitions visible). The
    * restored state is itself committed as a new coordinator snapshot; a
    * vacuumed/unknown snapshot id fails loudly before any member commit.
    */
  def restoreSnapshot(id: Long): Long = {
    val vec = snapshotVersions(id) // throws on a vacuumed/unknown id
    require(vec.nonEmpty, s"snapshot $id records no partitions")
    // fail-loudly contract: a member the snapshot records but whose
    // directory was externally removed must abort BEFORE any member
    // commit — silently skipping it would "restore" a table missing that
    // partition's data
    val onDisk = partitions.toSet
    val gone = vec.keySet.diff(onDisk)
    require(gone.isEmpty,
      s"snapshot $id records partition(s) ${gone.toSeq.sorted.mkString(", ")} " +
        s"whose director(y/ies) no longer exist under $root — restore aborted")
    val touched = partitions.map { v =>
      vec.get(v) match {
        case Some(ver) => v -> partition(v).restore(ver)
        case None =>
          val m = partitionUnchecked(v)
          v -> m.overwrite(m.read().limit(0))
      }
    }
    commitSnapshot("restore", touched)
  }

  /** SHALLOW CLONE at the sharded layout: every member shallow-clones to
    * `destRoot/<col>=<value>` (metadata-only — the clone's version 0
    * references the source's data files in place, stats/blooms carried),
    * the layout marker travels so the catalog classifies the clone as
    * partitioned, and the cloned state is committed as the clone's first
    * coordinator snapshot. Same source-vacuum caveat as the flat clone:
    * vacuuming the SOURCE can drop files a live clone still references.
    *
    * `asOfSnapshot` clones a PINNED coordinator snapshot instead of the
    * members' latest: each member the snapshot records clones at its
    * RECORDED version, and a partition created AFTER the snapshot is
    * excluded entirely — "clone state = snapshot state" must not leak
    * post-snapshot partitions (the same contract [[restoreSnapshot]]
    * honors by restoring them to empty; a clone has the cleaner option
    * of never creating them). A recorded member whose directory was
    * externally removed aborts BEFORE any member clone.
    */
  def shallowCloneTo(destRoot: String,
                     asOfSnapshot: Option[Long] = None)
      : PartitionedVersionedTable = {
    val parts = partitions
    require(parts.nonEmpty, s"nothing to clone at $root")
    require(PartitionedVersionedTable.readMarker(spark, destRoot).isEmpty &&
      new PartitionedVersionedTable(spark, destRoot, partitionCol)
        .partitions.isEmpty,
      s"$destRoot is already a table")
    // also reject a live FLAT table at destRoot (a _txlog with no
    // partition marker/dirs passed the partitioned-only checks above and
    // would get partition directories written INTO it) — mirror the flat
    // clone's dest-emptiness contract
    require(new VersionedTable(spark, destRoot).latestVersion.isEmpty,
      s"$destRoot is already a flat table (_txlog present)")
    val dest = new PartitionedVersionedTable(spark, destRoot, partitionCol,
      constraints, memberStatsCols, memberBloomCols)
    val cloned = asOfSnapshot match {
      case Some(id) =>
        val vec = snapshotVersions(id) // throws on vacuumed/unknown ids
        require(vec.nonEmpty, s"snapshot $id records no partitions")
        val gone = vec.keySet.diff(parts.toSet)
        require(gone.isEmpty,
          s"snapshot $id records partition(s) " +
            s"${gone.toSeq.sorted.mkString(", ")} whose director(y/ies) " +
            s"no longer exist under $root — clone aborted")
        vec.toSeq.sortBy(_._1).map { case (v, ver) =>
          partition(v).shallowCloneTo(s"$destRoot/$partitionCol=$v",
            asOf = Some(ver))
          v -> 0L
        }
      case None =>
        parts.map { v =>
          partition(v).shallowCloneTo(s"$destRoot/$partitionCol=$v")
          v -> 0L
        }
    }
    PartitionedVersionedTable.readMarker(spark, root).foreach {
      case (c, sch, st) =>
        PartitionedVersionedTable.writeMarker(spark, destRoot, c, sch, st)
    }
    dest.commitSnapshot("clone", cloned)
    dest
  }

  /** Snapshots SUPERSEDED at/after `cutoffMs` — the sharded twin of
    * [[VersionedTable.supersededSince]] (age judged on the SUCCESSOR's
    * timestamp; the latest snapshot has no successor and vacuum keeps it
    * unconditionally). [[MultiTableTxn.vacuum]] folds this into its keep
    * set so an in-flight transaction's staged-but-not-yet-stamped snapshot
    * survives a concurrent vacuum for the same window the orphan sweep
    * honors.
    */
  def snapshotsSupersededSince(cutoffMs: Long): Set[Long] = {
    val ss = snapshots
    ss.zip(ss.tail).collect {
      case (s, next) if snapshotDetail(next)._2 >= cutoffMs => s
    }.toSet
  }

  /** (operation, timestampMs, recorded partition count) of snapshot `id`
    * — the coordinator manifest's facts (CALL history on the sharded
    * layout).
    */
  def snapshotDetail(id: Long): (String, Long, Int) = {
    val node = new ObjectMapper().readTree(
      readFully(new Path(snapLogPath, f"$id%020d.json")))
    (node.get("operation").asText(), node.get("timestampMs").asLong(),
      node.get("parts").size())
  }

  private def readFully(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      Iterator.continually(in.read(tmp)).takeWhile(_ >= 0)
        .foreach(n => buf.write(tmp, 0, n))
      buf.toByteArray
    } finally in.close()
  }

  /** Atomic snapshot commit AFTER the per-partition commits: untouched
    * live partitions are frozen at their current latest version, touched
    * ones at the just-committed version. Fails-if-exists rename, same
    * protocol as [[VersionedTable]] manifests.
    */
  private[sources] def commitSnapshot(op: String, touched: Seq[(String, Long)],
                                      id: Long = latestSnapshot.map(_ + 1).getOrElse(0L)): Long = {
    val touchedMap = touched.toMap
    val vec = partitions.flatMap { v =>
      touchedMap.get(v).orElse(partition(v).latestVersion).map(v -> _)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = mapper.createObjectNode()
    json.put("snapshot", id)
    json.put("operation", op)
    json.put("timestampMs", System.currentTimeMillis())
    val pn = json.putObject("parts")
    vec.foreach { case (v, ver) => pn.put(v, ver) }
    LogStore.putIfAbsent(fs, new Path(snapLogPath, f"$id%020d.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json),
      s"snapshot $id was committed by a concurrent writer")
    id
  }
}

object PartitionedVersionedTable {

  /** Root-level marker making a partitioned table SELF-DESCRIBING for the
    * catalog/DSv2 layer: the partition column, plus the table schema for
    * the window where no partition log exists yet (CREATE before first
    * INSERT). Once partitions exist their committed schemas are the
    * source of truth; ALTERs rewrite the marker too so empty tables can
    * evolve.
    */
  private[sources] val markerName = "_partitioning.json"

  /** Session conf: ceiling on how many distinct partition values a single
    * write/merge may route to the driver (the per-value commit fold is
    * driver-side by design — one transaction log per value — so the cap
    * converts a data-sized partition column from a silent slow OOM into
    * a loud, actionable reject; the same X346 discipline as the sampling
    * count-cell collects).
    */
  val MaxRouteValuesConf = "spark.graft.partitions.maxRouteValues"
  private[sources] val DefaultMaxRouteValues = 100000

  /** Session conf: how many member (per-partition) tasks one partitioned
    * verb keeps in flight. For append, overwrite, keyed merge, update and
    * deletion-vector delete each task is a full member pipeline
    * (discovery, rewrite, commit), and the overlap lets the next member's
    * jobs back-fill executors freed by the previous member's stragglers.
    * MERGE INTO and copy-on-write DELETE run one Spark pass instead and
    * use the pool only for driver-side member work (manifest reads and
    * commits). 1 disables the overlap.
    */
  val MemberConcurrencyConf = "spark.graft.partitions.memberConcurrency"
  private[sources] val DefaultMemberConcurrency = 4

  /** A positive integer session conf; a malformed or non-positive value
    * fails naming the key and the value it got.
    */
  private[sources] def positiveIntConf(spark: SparkSession, key: String,
                                       default: Int): Int =
    spark.conf.getOption(key).fold(default) { raw =>
      raw.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$raw'"))
    }

  /** The member of each post-image row in a one-pass DML write; the
    * staged dir of member `v` is `<staging>/__vt_member=<v>`.
    */
  private val PassMemberCol = "__vt_member"
  /** The member column of the target rows and of the source rows in a
    * one-pass MERGE (distinct names, both sides meet in one join).
    */
  private val TgtMember = "__vt_tmember"
  private val SrcMember = "__vt_smember"

  /** Name prefix of a one-pass DML's dir under `<root>/_staging/` (the
    * streaming sinks stage there too, by query id).
    */
  private val StagingPrefix = "dml-"

  /** Most members one pass observes (each adds `1 + 3 x stats columns`
    * aggregates to the write); larger DMLs run several passes.
    */
  private val PassMembers = 32

  /** One member of a one-pass DML: its handle and the manifest the pass
    * read (it commits `base.version + 1`, or loses to a concurrent writer).
    */
  private final case class PassMember(v: String, vt: VersionedTable,
                                      base: VersionedTable.Manifest)

  /** What a pass does with one member: commit its state again ([[Noop]]),
    * or rewrite the `hit` dirs and commit the post-image beside `keep`
    * ([[Rewrite]]). `unchangedAt` is the post-image row count that means
    * nothing matched (a fused single-dir DELETE); the member then commits
    * metadata-only and its staged dir is dropped.
    */
  private sealed trait MemberPlan
  private case object Noop extends MemberPlan
  private final case class Rewrite(hit: Seq[String], keep: Seq[String],
                                   unchangedAt: Option[Long] = None)
    extends MemberPlan

  private[sources] def writeMarker(spark: SparkSession, root: String,
                                   partitionCol: String, schema: StructType,
                                   statsCols: Seq[String] = Nil): Unit = {
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    json.put("partitionCol", partitionCol)
    json.put("schemaJson", schema.json)
    if (statsCols.nonEmpty) {
      val arr = json.putArray("statsCols")
      statsCols.foreach(arr.add)
    }
    // tmp+atomic-rename, same discipline as manifests: loadTable reads
    // this marker on every open, and an in-place rewrite racing an ALTER
    // could surface truncated JSON (or misclassify the table as flat)
    GraftTableProps.atomicWrite(spark, root, markerName,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
  }

  /** (partitionCol, creation schema, member statsCols) when `root` is a
    * partitioned table.
    */
  private[sources] def readMarker(spark: SparkSession,
      root: String): Option[(String, StructType, Seq[String])] = {
    val p = new Path(root, markerName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val node = new ObjectMapper().readTree(bytes)
      val stats = GraftTableProps.statsColsArr(node)
      Some((node.get("partitionCol").asText(),
        DataType.fromJson(node.get("schemaJson").asText())
          .asInstanceOf[StructType], stats))
    }
  }

  def apply(spark: SparkSession, root: String,
            partitionCol: String): PartitionedVersionedTable =
    new PartitionedVersionedTable(spark, root, partitionCol)

  def apply(spark: SparkSession, root: String, partitionCol: String,
            constraints: Seq[(String, String)]): PartitionedVersionedTable =
    new PartitionedVersionedTable(spark, root, partitionCol, constraints)
}
