package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Cross-TABLE atomic visibility over independent [[VersionedTable]]s —
  * the training-run MANIFEST problem: a daily load lands the corpus
  * append, the dedup-index append, and the stats rollup as three
  * independent table commits, but every consumer (a training run, a
  * downstream screen, an audit) must see the three TOGETHER or not at
  * all — a corpus one batch ahead of its dedup index silently
  * under-screens tomorrow's batch.
  *
  * Same discipline as the sharded layout's coordinator snapshots
  * ([[PartitionedVersionedTable.commitSnapshot]]), generalized from
  * co-rooted partition members to ARBITRARY governed tables: stage each
  * table's own commit first (each table's optimistic log does its own
  * conflict detection), then stamp ONE transaction file
  * (`<logRoot>/_txnlog/<id>.json` — `{txn, operation, timestampMs,
  * tables: {name: {root, version}}}`) with the fails-if-exists atomic
  * rename. A crash BEFORE the stamp leaves the staged versions invisible
  * to transaction readers — all-or-nothing visibility, the junk versions
  * are time-travel debris [[vacuum]] reclaims. A concurrent stamper
  * loses the rename race ([[VersionedTable.ConcurrentWriteException]]);
  * [[commitRetrying]] re-reads the head and re-stamps — the staged
  * member versions are already durable, so the retry is metadata-only.
  *
  * Tables NOT staged in a transaction carry the version the PREVIOUS
  * transaction recorded — never their latest commit, which could be a
  * concurrent transaction's half-staged write. That is the difference
  * from the sharded coordinator (whose untouched members take
  * latestVersion: safe there because one operation owns all member logs;
  * unsafe here, where writers are independent).
  *
  * VISIBILITY, not isolation: a direct reader of a member table still
  * sees that table's latest commit (the same trade the sharded layout —
  * and every multi-table Delta pattern — accepts). Consistent readers go
  * through [[readAt]]; [[pinnedVersions]] + [[vacuum]] keep member
  * vacuums from deleting a version a live transaction still pins.
  *
  * 100-TB shape: everything here is METADATA — one JSON file per
  * transaction, O(registered tables) bytes; the data work happened in
  * the member commits. Reading `readAt` is the member table's own
  * pinned-version read (manifest-pruned scan), nothing extra.
  */
final class MultiTableTxn(spark: SparkSession, logRoot: String) {

  private def txnLogPath = new Path(logRoot, "_txnlog")
  private def fs = new Path(logRoot)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed transaction ids, ascending. */
  def txns: Seq[Long] =
    if (!fs.exists(txnLogPath)) Seq.empty
    else fs.listStatus(txnLogPath).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted

  def latest: Option[Long] = txns.lastOption

  private def readFully(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Everything one stamp file records, in ONE read: (operation,
    * timestampMs, name → (table root, pinned version)). Listing verbs
    * ([[Cli]] txn history, the SQL txn_history procedure) use this —
    * calling [[detail]] + [[vector]] separately reads every stamp file
    * twice, ~4N driver round-trips for an N-stamp log on an object
    * store.
    */
  def stampDetail(id: Long): (String, Long, Map[String, (String, Long)]) = {
    val p = new Path(txnLogPath, f"$id%020d.json")
    require(fs.exists(p),
      s"transaction $id not found at $logRoot (live: ${txns.mkString(",")})" +
        " — vacuumed or never committed")
    val node = new ObjectMapper().readTree(readFully(p))
    import scala.jdk.CollectionConverters._
    val vec = node.get("tables").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("root").asText(),
        e.getValue.get("version").asLong())
    }.toMap
    (node.get("operation").asText(), node.get("timestampMs").asLong(), vec)
  }

  /** name → (table root, pinned version) recorded by transaction `id`. */
  def vector(id: Long): Map[String, (String, Long)] = stampDetail(id)._3

  /** (operation, timestampMs) of transaction `id`. */
  def detail(id: Long): (String, Long) = {
    val (op, ts, _) = stampDetail(id)
    (op, ts)
  }

  /** Consistent read of table `name` at transaction `id`: the EXACT
    * pinned id, regardless of later commits. Dispatches on the member's
    * layout — a FLAT table pins a commit VERSION, a PARTITIONED table
    * (detected by its root marker) pins a coordinator SNAPSHOT id, its
    * only cross-partition-consistent commit domain.
    */
  def readAt(id: Long, name: String): DataFrame = {
    val (root, v) = pinOf(id, name)
    shardedOf(root) match {
      case Some(pvt) => pvt.readSnapshot(v)
      case None => new VersionedTable(spark, root).readVersion(v)
    }
  }

  /** FORK a training run: shallow-clone EVERY member table at
    * transaction `id`'s pins (possibly none of them the member's latest)
    * into fresh roots and stamp the forked state as transaction 0 of a
    * NEW log at `destLogRoot` — "reproduce the exact dataset lineup that
    * produced run `id`, then diverge it", the multi-table twin of
    * [[VersionedTable.shallowCloneTo]]. Metadata only: each member clone
    * is a manifest referencing the source's files in place (flat members
    * clone at the pinned commit version, sharded members at the pinned
    * coordinator snapshot — post-snapshot partitions excluded), and the
    * fork's stamp is one JSON file. Writes on either side are invisible
    * to the other (clones are copy-on-write under their own roots).
    *
    * Retention: the fork's manifests reference SOURCE files, and a
    * non-latest pin is exactly what a member vacuum reclaims first — but
    * as long as transaction `id` survives the source log's
    * [[vacuum]]`(keepTxns)`, its pins are in [[pinnedVersions]] and the
    * txn-aware sweep keeps them. Materialize the fork (compact each
    * member) before letting the source transaction age out.
    */
  def cloneAt(id: Long, destLogRoot: String,
              destRootFor: String => String): MultiTableTxn = {
    val vec = vector(id) // throws on vacuumed/unknown ids
    val dest = new MultiTableTxn(spark, destLogRoot)
    require(dest.latest.isEmpty,
      s"$destLogRoot already holds transactions — fork into a fresh log")
    val staged = vec.toSeq.sortBy(_._1).map { case (name, (root, pin)) =>
      val destRoot = destRootFor(name)
      val destPin = shardedOf(root) match {
        case Some(pvt) =>
          pvt.shallowCloneTo(destRoot, asOfSnapshot = Some(pin))
            .latestSnapshot.get
        case None =>
          new VersionedTable(spark, root)
            .shallowCloneTo(destRoot, asOf = Some(pin))
          0L
      }
      (name, destRoot, destPin)
    }
    dest.commitAt(s"txn_clone:$id", staged)
    dest
  }

  /** [[cloneAt]] with the default member layout
    * `<destLogRoot>/tables/<name>`. */
  def cloneAt(id: Long, destLogRoot: String): MultiTableTxn =
    cloneAt(id, destLogRoot, name => s"$destLogRoot/tables/$name")

  /** The newest transaction stamped at or before `tsMs` — TIMESTAMP AS
    * OF on the manifest log, the same resolution contract as the member
    * layers' (a timestamp names the newest consistent state ≤ it).
    * O(live txns) driver-side stamp reads; the log is O(loads), not
    * O(rows).
    */
  def asOfTimestamp(tsMs: Long): Long = {
    val at = txns.filter(id => detail(id)._2 <= tsMs)
    require(at.nonEmpty,
      s"no transaction stamped at or before $tsMs in $logRoot " +
        s"(earliest: ${txns.headOption.map(detail).map(_._2)})")
    at.last
  }

  /** Consistent read of `name` at the newest transaction stamped at or
    * before `tsMs` ([[asOfTimestamp]] + [[readAt]]). */
  def readAsOf(tsMs: Long, name: String): DataFrame =
    readAt(asOfTimestamp(tsMs), name)

  /** MATERIALIZE transaction `id`'s pinned state so every member owns
    * its bytes — the verb that discharges [[cloneAt]]'s retention
    * caveat: each member restores to its pin (a metadata commit; run
    * unconditionally so a staged-but-unstamped tail commit can never
    * leak into the fold) and compacts (the rewrite that localizes a
    * clone's foreign file references — flat [[VersionedTable.compact]],
    * sharded [[PartitionedVersionedTable.compactAll]]), and the
    * compacted state stamps as a new transaction. After it, no SOURCE
    * vacuum can break this log's latest transaction; the fork's own
    * vacuum then retires the old foreign-referencing manifests (its
    * foreign guard never deletes source-owned files).
    */
  def materialize(id: Long): Long = {
    val vec = vector(id)
    val staged = vec.toSeq.sortBy(_._1).map { case (name, (root, pin)) =>
      shardedOf(root) match {
        case Some(pvt) =>
          pvt.restoreSnapshot(pin)
          (name, root, pvt.compactAll())
        case None =>
          val vt = new VersionedTable(spark, root)
          vt.restore(pin)
          (name, root, vt.compact())
      }
    }
    commitAtRetrying(s"txn_materialize:$id", staged)
  }

  /** REBASE: bring this FORK up to date with `source` — "git pull" for
    * dataset forks. The sync point is the newest `txn_clone:<id>` /
    * `txn_rebase:<id>` stamp in THIS log (so repeated rebases apply only
    * the upstream delta since the last one); each flat member applies
    * the source's keyed changes `sinceSrc → srcHead` in ONE
    * dir-grained MERGE (deletes delete, postimages update, new keys
    * insert — the member's pruned `changesByKey` feeds it, O(changed
    * dirs) upstream, O(hit dirs) on the fork), and the synced state
    * stamps as `txn_rebase:<srcHead>`.
    *
    * CONFLICTS — keys changed on BOTH sides since the sync point
    * (detected via each side's own pruned change feed):
    *   - `"fail"` (default): throw, naming the member, count, and a
    *     key sample — nothing commits anywhere;
    *   - `"ours"`: the fork's version wins (conflicting keys drop out
    *     of the upstream delta);
    *   - `"theirs"`: the source's version wins (a fork-updated key the
    *     source deleted is deleted; a fork-deleted key the source
    *     updated is re-inserted).
    *
    * Scope: flat members (a sharded member's cross-partition delta is
    * its coordinator changes table — follow that instead); source and
    * fork member schemas must not have drifted (a source-added column
    * fails the MERGE loudly — reconcile schema first). A source head
    * whose member pins all equal the sync point's still stamps (one
    * member re-staged at its current pin), so the sync point advances.
    * The caller is responsible for passing the log this fork was
    * actually cloned from.
    */
  def rebase(source: MultiTableTxn, keyColsFor: String => Seq[String],
             policy: String = "fail"): Long = {
    require(Set("fail", "ours", "theirs")(policy),
      s"unknown conflict policy '$policy' (fail | ours | theirs)")
    val syncs = txns.map(id => id -> detail(id)._1).collect {
      case (id, op) if op.startsWith("txn_clone:") =>
        id -> op.stripPrefix("txn_clone:").toLong
      case (id, op) if op.startsWith("txn_rebase:") =>
        id -> op.stripPrefix("txn_rebase:").toLong
    }
    require(syncs.nonEmpty,
      s"$logRoot records no txn_clone/txn_rebase stamp — not a fork")
    val (syncTxn, sinceSrc) = syncs.last
    val srcHead = source.latest.getOrElse(
      throw new IllegalStateException("source log records no transactions"))
    if (srcHead == sinceSrc) return latest.get // already up to date
    val srcVec = source.vector(srcHead)
    val sinceVec = source.vector(sinceSrc)
    val forkHead = latest.get
    val forkVec = vector(forkHead)
    val syncVec = vector(syncTxn)
    // PHASE 1 — plan every member: resolve deltas, probe conflicts, and
    // apply the policy BEFORE any merge commits, so a policy="fail"
    // conflict on ANY member aborts with nothing committed anywhere.
    // (A mid-apply crash in phase 2 can still leave earlier members'
    // merge commits staged-but-unstamped — invisible to transaction
    // readers and vacuum-reclaimable, like any crashed staging; re-run
    // after resolving.)
    val plans = srcVec.toSeq.sortBy(_._1).flatMap {
      case (name, (srcRoot, vTo)) =>
        val (fRoot, fvTo) = forkVec.getOrElse(name,
          throw new IllegalArgumentException(
            s"source table '$name' has no member in this fork — it was " +
              "added upstream after the fork point; re-fork or attach it"))
        require(source.shardedOf(srcRoot).isEmpty && shardedOf(fRoot).isEmpty,
          s"rebase supports flat members; '$name' is sharded — its " +
            "cross-partition delta is the coordinator changes table")
        val vFrom = sinceVec.getOrElse(name, throw new IllegalArgumentException(
          s"source table '$name' is not recorded at the sync point " +
            s"(source txn $sinceSrc) — it joined after the fork point; " +
            "re-fork, or bootstrap the member to the source state first"))._2
        if (vFrom == vTo) None // upstream untouched: carry forward
        else {
          val keys = keyColsFor(name)
          require(keys.nonEmpty, s"no key columns for member '$name'")
          val forkVt = new VersionedTable(spark, fRoot)
          // the merge lands on the STAMPED pin, never a staged tail: a
          // crashed writer's staged-but-unstamped member commit must not
          // ride into the rebase stamp (the same invariant materialize
          // enforces by restoring to the pin unconditionally)
          require(forkVt.latestVersion.contains(fvTo),
            s"fork member '$name' latest ${forkVt.latestVersion} != " +
              s"stamped pin $fvTo — a staged-but-unstamped commit " +
              "exists; stamp or vacuum it before rebasing")
          // O(changed dirs) upstream delta, cached once (conflict probe +
          // apply both consume it)
          val ds = new VersionedTable(spark, srcRoot)
            .changesByKey(vFrom, vTo, keys).localCheckpoint(true)
          val dataCols = ds.columns.filterNot(_ == "_change_type").toSeq
          // schema drift fails HERE, loudly — mergeInto would silently
          // ignore source columns the fork's schema lacks, losing a
          // source-added column's values without an error
          val forkCols = forkVt.read().columns.toSet
          require(dataCols.toSet == forkCols,
            s"schema drift on '$name': the upstream delta carries " +
              s"[${dataCols.sorted.mkString(",")}] but the fork member " +
              s"has [${forkCols.toSeq.sorted.mkString(",")}] — reconcile " +
              "schema before rebasing")
          val fvFrom = syncVec.getOrElse(name, throw new IllegalArgumentException(
            s"fork member '$name' is not recorded at the sync stamp " +
              s"(txn $syncTxn) — it was attached after; re-fork"))._2
          val dsKeys = ds.select(keys.map(col): _*).distinct()
          val conflicts =
            if (fvFrom == fvTo) None // fork untouched: nothing can clash
            else {
              val c = forkVt.changesByKey(fvFrom, fvTo, keys)
                .select(keys.map(col): _*).distinct()
                .join(dsKeys, keys, "inner").localCheckpoint(true)
              if (c.isEmpty) None else Some(c)
            }
          val dsEff = (conflicts, policy) match {
            case (None, _) | (_, "theirs") => ds
            case (Some(c), "fail") =>
              val sample = c.limit(5).collect()
                .map(_.toSeq.mkString("(", ",", ")")).mkString(", ")
              throw new IllegalStateException(
                s"rebase conflict on '$name': ${c.count()} key(s) changed " +
                  s"on both sides since source txn $sinceSrc (sample: " +
                  s"$sample) — re-run with policy=\"ours\" or \"theirs\"")
            case (Some(c), _) => ds.join(c, keys, "left_anti") // ours
          }
          Some((name, fRoot, forkVt, fvTo, keys, dataCols, dsEff))
        }
    }
    // PHASE 2 — apply: one dir-grained MERGE per member. NO conflict
    // retry: a commit racing this merge means fork state moved after the
    // conflict probe, so re-probing (re-running rebase) is the only
    // sound response — the ConcurrentWriteException propagates.
    val staged = plans.map {
      case (name, fRoot, forkVt, _, keys, dataCols, dsEff) =>
        val srcFrame = dsEff
          .filter(col("_change_type") =!= "update_preimage")
          .select(dataCols.map(c => col(c).as(s"_rb_$c")) :+
            (col("_change_type") === "delete").as("_rb_del"): _*)
        val cond = keys.map(k => col(k) === col(s"_rb_$k"))
          .reduce(_ && _)
        val v = forkVt.mergeInto(srcFrame, cond,
          matched = Seq(
            VersionedTable.MergeIntoDelete(Some(col("_rb_del"))),
            VersionedTable.MergeIntoUpdate(None,
              dataCols.filterNot(keys.contains)
                .map(c => c -> col(s"_rb_$c")).toMap)),
          notMatched = Seq(
            VersionedTable.MergeIntoInsert(Some(!col("_rb_del")),
              dataCols.map(c => c -> col(s"_rb_$c")).toMap)))
        (name, fRoot, v)
    }
    // a carry-only upstream window still advances the sync point: stamp
    // with one member re-staged at its current (validated) pin
    val ensured =
      if (staged.nonEmpty) staged
      else forkVec.toSeq.sortBy(_._1).take(1).map {
        case (n, (r, v)) => (n, r, v)
      }
    commitAtRetrying(s"txn_rebase:$srcHead", ensured)
  }

  /** What changed between two pinned states — the change rows that turn
    * THIS log's `name` at `id` into `other`'s at `otherId`, classified
    * by `keyCols` exactly like the keyed change feed (`insert` = key
    * only in `other`, `delete` = key only here, an
    * `update_preimage`/`update_postimage` pair when the key exists in
    * both with any non-key column differing). The fork-analysis verb:
    * after source and fork have BOTH diverged, this is the experiment's
    * effect as data. Cross-log, so no dir pruning applies — one
    * full-outer join of the two pinned reads; for a window WITHIN one
    * member's log use that member's `changesByKey`, which prunes to the
    * changed dirs. Requires key-unique states on both sides (the
    * merge-maintained-table contract), or the join fans out.
    */
  def diffAt(id: Long, name: String, other: MultiTableTxn, otherId: Long,
             keyCols: Seq[String]): DataFrame =
    VersionedTable.keyedDiff(readAt(id, name), other.readAt(otherId, name),
      keyCols)

  /** Sharded-layout detection for the dispatch: the catalog marker when
    * present, else structurally — a `_snaplog` dir plus a `col=value`
    * member dir (API-created [[PartitionedVersionedTable]]s write no
    * marker, but every committed one has both).
    */
  private[sources] def shardedOf(root: String): Option[PartitionedVersionedTable] =
    PartitionedVersionedTable.readMarker(spark, root).map {
      case (c, _, st) =>
        new PartitionedVersionedTable(spark, root, c, memberStatsCols = st)
    }.orElse {
      val rp = new Path(root)
      val rfs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!rfs.exists(new Path(rp, "_snaplog"))) None
      else rfs.listStatus(rp).map(_.getPath.getName)
        .find(n => n.contains("=") && !n.startsWith("_"))
        .map(n =>
          new PartitionedVersionedTable(spark, root, n.takeWhile(_ != '=')))
    }

  private def pinOf(id: Long, name: String): (String, Long) = {
    val vec = vector(id)
    vec.getOrElse(name, throw new IllegalArgumentException(
      s"transaction $id records no table '$name' " +
        s"(recorded: ${vec.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Stamp a transaction: `staged` maps each table name to its
    * already-committed (table, version); tables recorded by the previous
    * transaction but absent from `staged` carry forward at their PINNED
    * version. Throws [[VersionedTable.ConcurrentWriteException]] when a
    * concurrent stamper wins the id — the staged commits stay durable,
    * so the caller can re-stamp ([[commitRetrying]]).
    */
  def commit(op: String,
             staged: Seq[(String, VersionedTable, Long)]): Long =
    commitAt(op, staged.map { case (n, vt, v) => (n, vt.root, v) })

  /** [[commit]] in the layout-agnostic (name, root, pinnedId) spelling:
    * flat members pin commit versions, partitioned members pin
    * coordinator SNAPSHOT ids (stage them as
    * `pvt.commitSnapshot`-returned ids — [[readAt]] and [[vacuum]]
    * dispatch on the root's marker).
    */
  def commitAt(op: String, staged: Seq[(String, String, Long)]): Long = {
    require(staged.nonEmpty, "a transaction must stage at least one table")
    require(staged.map(_._1).distinct.size == staged.size,
      "duplicate table names in one transaction")
    // validate AT STAMP TIME that every staged pin exists in its member's
    // log — a typo'd or already-vacuumed id (easy via the SQL procedure's
    // string args) would otherwise stamp a committed transaction that only
    // fails later at readAt, while vacuum pins the nonexistent id and
    // drops the one actually needed
    staged.foreach { case (name, root, v) =>
      // O(1) per pin: one manifest/snapshot file stat — a full log
      // listing here would cost O(log length) driver round-trips per
      // staged member on EVERY stamp (per-microbatch stampers feel it)
      val ok = shardedOf(root) match {
        case Some(pvt) => pvt.snapshotExists(v)
        case None => new VersionedTable(spark, root).versionExists(v)
      }
      require(ok,
        s"staged pin $v for table '$name' does not exist at $root — " +
          "commit the member first, and stage snapshot ids (not member " +
          "versions) for sharded roots")
    }
    val id = latest.map(_ + 1).getOrElse(0L)
    val carried = latest.map(vector).getOrElse(Map.empty)
    val vec = carried ++ staged.map { case (n, root, v) =>
      n -> (root, v)
    }.toMap
    stamp(id, op, vec)
  }

  /** The atomic stamp itself (fails-if-exists rename on `id`) — split
    * from [[commit]] so the id race is independently exercisable: two
    * stampers that both computed `id` before either renamed, one loses.
    */
  private[graft] def stamp(id: Long, op: String,
                           vec: Map[String, (String, Long)]): Long = {
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    json.put("txn", id)
    json.put("operation", op)
    json.put("timestampMs", System.currentTimeMillis())
    val tn = json.putObject("tables")
    vec.toSeq.sortBy(_._1).foreach { case (n, (root, v)) =>
      val t = tn.putObject(n); t.put("root", root); t.put("version", v); ()
    }
    LogStore.putIfAbsent(fs, new Path(txnLogPath, f"$id%020d.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json),
      s"transaction $id was stamped by a concurrent writer")
    id
  }

  /** [[commit]] with bounded re-stamp on the id race — metadata-only
    * retries (the member commits are already durable).
    */
  def commitRetrying(op: String, staged: Seq[(String, VersionedTable, Long)],
                     maxAttempts: Int = 5): Long =
    commitAtRetrying(op,
      staged.map { case (n, vt, v) => (n, vt.root, v) }, maxAttempts)

  /** [[commitAt]] under the same bounded re-stamp. */
  def commitAtRetrying(op: String, staged: Seq[(String, String, Long)],
                       maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (true) {
      try return commitAt(op, staged)
      catch {
        case e: VersionedTable.ConcurrentWriteException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** A member table's change feed QUANTIZED TO TRANSACTION STAMPS, as a
    * structured stream — the consumer story for the manifest: a
    * training-run loader follows `daily_load` stamps the way CDC
    * consumers follow a changes table, except batch boundaries are
    * TRANSACTIONS, never raw member commits. That difference is the
    * whole point: a member commit that was staged but never stamped is
    * invisible here (the member's own CDF stream would leak it), and a
    * transaction that staged several member commits at once lands as ONE
    * batch — the all-or-nothing visibility of [[readAt]], streamed.
    *
    * Micro-batch i carries transaction i's effect on `table`: the first
    * batch is the anchor transaction's pinned-version read as inserts
    * (Delta's initial-snapshot behavior; pass `startingTxn` to anchor
    * later), each subsequent batch the keyed diff between consecutive
    * pins (`_change_type` ∈ insert/delete/update_preimage/
    * update_postimage, `_commit_version` = the pinned member version,
    * `_txn_id` = the stamp), and a carry-forward transaction (the pin
    * did not move) an EMPTY batch — one batch per stamp, so a
    * `foreachBatch` consumer's commit cadence is the transaction log's.
    *
    * Mechanics are [[ChangeFeed.streamChanges]]'s spool discipline: one
    * parquet file per transaction with mtime pinned to stamp order, read
    * back as a file-source stream with `maxFilesPerTrigger = 1`. Flat
    * members only — a sharded member's cross-partition stream is its
    * coordinator changes table (`readStream.table("cat.t.changes")`),
    * which already quantizes to snapshots.
    */
  def streamChanges(table: String, keyCols: Seq[String], spoolDir: String,
                    startingTxn: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val ids = txns
    require(ids.nonEmpty, s"no stamped transaction at $logRoot")
    val anchor = startingTxn.getOrElse(ids.head)
    require(ids.contains(anchor),
      s"startingTxn $anchor not in stamped set ${ids.mkString(",")}")
    val (root0, v0) = pinOf(anchor, table)
    require(shardedOf(root0).isEmpty,
      s"streamChanges supports flat members; sharded member '$table' " +
        "streams via its coordinator changes table")
    val vt = new VersionedTable(spark, root0)
    val head = vt.readVersion(v0)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v0))
      .withColumn("_txn_id", lit(anchor))
    val cols = head.columns.toSeq
    val later = ids.dropWhile(_ <= anchor)
    val diffs = later.foldLeft((v0, Vector.empty[DataFrame])) {
      case ((pv, acc), t) =>
        val (r, v) = pinOf(t, table)
        require(r == root0,
          s"table '$table' moved roots mid-log ($root0 -> $r) — re-anchor")
        val batch =
          if (v == pv) head.limit(0) // carry-forward: empty, same schema
          else vt.changesByKey(pv, v, keyCols)
            .withColumn("_commit_version", lit(v))
            .withColumn("_txn_id", lit(t))
            .select(cols.map(col): _*)
        (v, acc :+ batch)
    }._2
    val batches = head +: diffs
    val spool = new Path(spoolDir)
    require(!fs.exists(spool), s"spool dir $spoolDir already exists")
    // one file per stamp, admitted oldest-mtime-first = stamp order —
    // the CDF stream's shared spool discipline
    ChangeFeed.spoolBatches(spark, fs, spool, batches, "txn")
  }

  /** Member versions still pinned by any LIVE transaction — the keep set
    * a member-table vacuum must honor ([[VersionedTable.vacuumKeeping]]).
    */
  def pinnedVersions(name: String): Set[Long] =
    txns.flatMap(id => vector(id).get(name).map(_._2)).toSet

  /** Transaction-aware vacuum: drop transactions older than the newest
    * `keepTxns`, then vacuum every table the surviving transactions
    * record, keeping the versions still pinned (plus each table's latest
    * — [[VersionedTable.vacuumKeeping]]'s own floor — plus every version
    * SUPERSEDED within `orphanRetentionMs`). The recency floor is the
    * in-flight-stage guard: a writer that committed a member version and
    * was then superseded by a concurrent commit BEFORE stamping its
    * transaction holds a version pinned by nothing — the floor keeps it
    * alive for the same window the orphan-dir sweep honors, so the
    * writer's subsequent stamp yields a readable transaction. A member
    * vacuum run OUTSIDE this method must pass [[pinnedVersions]] or it
    * can silently break [[readAt]] for an older live transaction.
    *
    * Crash-window ordering: manifests drop BEFORE members vacuum, so a
    * crash between the two leaves now-unpinned member versions
    * unreclaimed until the next vacuum — benign debris, never
    * corruption (the reverse order would be the dangerous one: member
    * files gone while the manifests that pin them survive, breaking
    * readAt of a still-listed transaction). Re-running vacuum after a
    * partial run is idempotent and completes the sweep.
    */
  def vacuum(keepTxns: Int = 2,
             orphanRetentionMs: Long = 60 * 60 * 1000L): Unit = {
    require(keepTxns >= 1, "must keep at least the latest transaction")
    val all = txns
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepTxns))
    drop.foreach(id =>
      fs.delete(new Path(txnLogPath, f"$id%020d.json"), false))
    // stamp debris from crashed writers: a process that died between
    // fs.create(tmp) and the rename leaves .tmp-<entry>-<uuid> files the
    // id-suffix listing never sees — sweep them past the in-flight window
    val cutoff = System.currentTimeMillis() - orphanRetentionMs
    if (fs.exists(txnLogPath))
      fs.listStatus(txnLogPath)
        .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    val tables = keep.flatMap(vector).toMap // name -> (root, some version)
    tables.foreach { case (name, (root, _)) =>
      shardedOf(root) match {
        case Some(pvt) =>
          pvt.vacuumKeepingSnapshots(
            pinnedVersions(name) ++ pvt.snapshotsSupersededSince(cutoff),
            orphanRetentionMs)
        case None =>
          val vt = new VersionedTable(spark, root)
          vt.vacuumKeeping(
            pinnedVersions(name) ++ vt.supersededSince(cutoff),
            orphanRetentionMs)
      }
    }
  }
}

object MultiTableTxn {
  def apply(spark: SparkSession, logRoot: String): MultiTableTxn =
    new MultiTableTxn(spark, logRoot)
}
