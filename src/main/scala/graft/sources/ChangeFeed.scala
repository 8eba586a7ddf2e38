package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consumer groups over a [[VersionedTable]]'s keyed change feed — the
  * incremental-consumption discipline Delta users get from
  * `readChangeFeed` + a streaming checkpoint, without a streaming query:
  * each group remembers the last table version it processed in an offset
  * log under the table root (`<root>/_consumers/<group>/NNN….json`), and
  * [[consume]] hands the caller exactly the changes committed since.
  *
  * Delivery contract (same as Spark's `foreachBatch`): the callback runs
  * BEFORE the offset commits, so a crash between the two re-delivers the
  * same range — at-least-once, make the callback idempotent (a MERGE into
  * a sink table is). The offset commit itself is a fails-if-exists rename,
  * so of two racing consumers in one group exactly one advances the
  * offset; the loser observes a [[VersionedTable.ConcurrentWriteException]]
  * and simply retries into a no-op. Offsets are tiny JSON, one per
  * consumed range — bounded by consume calls, not by data.
  *
  * The first consume of a group delivers the CURRENT snapshot as inserts
  * (Delta's initial-snapshot behavior); use [[seek]] to start a group at
  * a chosen version instead (e.g. `seek(latest)` for consume-from-now).
  * Each subsequent consume is one keyed diff ([[VersionedTable
  * .changesByKey]]: a full outer join on the key — O(table), so batch
  * consumes on a cadence, not per tiny commit; the CDF cost model is the
  * table's, documented there).
  */
object ChangeFeed {

  private val mapper = new ObjectMapper()

  private def groupPath(vt: VersionedTable, groupId: String): Path = {
    require(groupId.matches("[A-Za-z0-9._-]+"),
      s"unsafe consumer group id '$groupId' (allowed: [A-Za-z0-9._-])")
    new Path(new Path(vt.root, "_consumers"), groupId)
  }

  private def fsOf(spark: SparkSession, vt: VersionedTable): FileSystem =
    new Path(vt.root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def offsets(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted

  private def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      Iterator.continually(in.read(tmp)).takeWhile(_ >= 0)
        .foreach(n => buf.write(tmp, 0, n))
      buf.toByteArray
    } finally in.close()
  }

  /** Commit offset entry `seq` for the group — put-if-absent, the same
    * protocol as table manifests: a racing consumer that lost gets a
    * ConcurrentWriteException and should treat the range as consumed.
    */
  private[sources] def commitOffset(spark: SparkSession, vt: VersionedTable,
                           dir: Path, seq: Long, from: Long, to: Long): Unit = {
    val json = mapper.createObjectNode()
    json.put("seq", seq)
    json.put("from", from)
    json.put("to", to)
    json.put("timestampMs", System.currentTimeMillis())
    LogStore.putIfAbsent(fsOf(spark, vt), new Path(dir, f"$seq%020d.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(json),
      s"offset $seq of group $dir was committed by a concurrent consumer")
  }

  /** Last table version the group processed, if the group exists. */
  def position(spark: SparkSession, vt: VersionedTable,
               groupId: String): Option[Long] = {
    val fs = fsOf(spark, vt)
    val dir = groupPath(vt, groupId)
    offsets(fs, dir).lastOption.map { seq =>
      mapper.readTree(readFully(fs, new Path(dir, f"$seq%020d.json")))
        .get("to").asLong()
    }
  }

  /** Initialize (or rewind/advance) the group to `version` without
    * delivering anything — the next [[consume]] starts from there.
    */
  def seek(spark: SparkSession, vt: VersionedTable, groupId: String,
           version: Long): Unit = {
    val dir = groupPath(vt, groupId)
    val next = offsets(fsOf(spark, vt), dir).lastOption.map(_ + 1).getOrElse(0L)
    commitOffset(spark, vt, dir, next, version, version)
  }

  /** The table's committed change feed AS A STRUCTURED STREAM — Delta's
    * `readChangeFeed` streaming shape on top of [[VersionedTable
    * .changesByKey]]: micro-batch i carries exactly commit i's keyed
    * change rows (`_change_type` ∈ insert/delete/update_preimage/
    * update_postimage, `_commit_version` = the commit), in commit order.
    * The first batch is the first committed version's snapshot as
    * inserts (Delta's initial-snapshot behavior); pass `startingVersion`
    * to skip the snapshot and follow from a chosen commit instead.
    * Matching Delta's `startingVersion`, the anchor is INCLUSIVE: the
    * first batch is the anchor commit's own change rows (the consumer
    * holds state through the anchor's PREDECESSOR), and an anchor at the
    * first retained version emits that version's rows as inserts.
    *
    * Mechanics: each version transition's change frame is spooled ONCE
    * as a single parquet file with an mtime pinned to its commit index
    * (the X127/X140 staged-batch discipline — the file source admits
    * oldest-mtime-first), then the spool opens as a file-source stream
    * with `maxFilesPerTrigger = 1`, so batch boundaries are exactly
    * commit boundaries. Spooling is a one-time O(table) diff per
    * transition — the CDF cost model is [[VersionedTable.changesByKey]]'s
    * and is documented there; at scale you spool on a consume cadence
    * (several commits per diff), not per tiny commit.
    *
    * Returns the streaming DataFrame; start it with `foreachBatch` (an
    * [[graft.operators.IncrementalAgg]] fold is the canonical consumer)
    * or any sink.
    */
  def streamChanges(spark: SparkSession, vt: VersionedTable,
                    keyCols: Seq[String], spoolDir: String,
                    startingVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val all = vt.versions
    require(all.nonEmpty, s"no committed version at ${vt.root}")
    val fs = fsOf(spark, vt)
    val spool = new Path(spoolDir)
    require(!fs.exists(spool), s"spool dir $spoolDir already exists")
    // Delta's startingVersion semantics are INCLUSIVE of the anchor: the
    // first emitted batch is the anchor commit's own change set (its keyed
    // diff from its predecessor, or — when the anchor is the first
    // retained version, Delta's startingVersion=0 case — the full version
    // as inserts). Default (no anchor) = snapshot-then-follow.
    val (head, versions) = startingVersion match {
      case Some(sv) =>
        require(all.contains(sv), s"startingVersion $sv not in $all")
        val idx = all.indexOf(sv)
        if (idx == 0)
          (Some(vt.readVersion(sv)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(sv))), all)
        else (None, all.drop(idx - 1))
      case None =>
        (Some(vt.readVersion(all.head)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(all.head))), all)
    }
    val cols = head.map(_.columns.toSeq).getOrElse(
      vt.readVersion(versions.head).columns.toSeq :+
        "_change_type" :+ "_commit_version")
    val diffs = versions.sliding(2).collect { case Seq(a, b) =>
      vt.changesByKey(a, b, keyCols)
        .withColumn("_commit_version", lit(b))
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
    }.toSeq
    // always nonEmpty: an anchored start emits at least the anchor's own
    // diff, an unanchored (or first-version-anchored) start emits the
    // insert snapshot
    val batches = head.toSeq ++ diffs
    // one file per commit, admitted oldest-mtime-first = commit order
    spoolBatches(spark, fs, spool, batches, "cdf")
  }

  /** The staged-batch spool discipline shared by the CDF stream above
    * and the transaction stream ([[MultiTableTxn.streamChanges]]): each
    * batch lands as exactly ONE parquet file (stage dir → rename the
    * part file up → drop the stage), with mtimes pinned ascending so a
    * `maxFilesPerTrigger = 1` file source admits one batch per trigger
    * IN ORDER. Returns the readStream over the spool. Any future fix to
    * this discipline (cross-filesystem renames, checksum siblings, mtime
    * granularity) lands once, for both streams.
    */
  private[sources] def spoolBatches(spark: SparkSession, fs: FileSystem,
                                    spool: Path, batches: Seq[DataFrame],
                                    prefix: String): DataFrame = {
    val base = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = new Path(spool, f".stage-$i%05d")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .filter(_.getPath.getName.startsWith("part-")).head.getPath
      val dst = new Path(spool, f"$prefix-$i%05d.parquet")
      if (!fs.rename(part, dst))
        throw new IllegalStateException(s"could not spool $dst")
      fs.delete(tmp, true)
      fs.setTimes(dst, base + i * 1000L, -1L)
    }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(spool.toString)
  }

  /** Deliver the changes committed since the group's position to `f` as a
    * keyed change frame (`_change_type` ∈ insert/delete/update_preimage/
    * update_postimage — see [[VersionedTable.changesByKey]]), then advance
    * the offset. First consume of an uninitialized group delivers the
    * current snapshot as inserts. Returns the (from, to) version range
    * delivered, or None when there was nothing new (f not called).
    */
  def consume(spark: SparkSession, vt: VersionedTable, groupId: String,
              keyCols: Seq[String])
             (f: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val cur = vt.latestVersion.getOrElse(return None)
    val dir = groupPath(vt, groupId)
    val fs = fsOf(spark, vt)
    val seqs = offsets(fs, dir)
    val last = seqs.lastOption.map { seq =>
      mapper.readTree(readFully(fs, new Path(dir, f"$seq%020d.json")))
        .get("to").asLong()
    }
    last match {
      case Some(v) if v >= cur => None
      case Some(v) =>
        f(vt.changesByKey(v, cur, keyCols), v, cur)
        commitOffset(spark, vt, dir, seqs.last + 1, v, cur)
        Some((v, cur))
      case None =>
        f(vt.readVersion(cur).withColumn("_change_type", lit("insert")),
          -1L, cur)
        commitOffset(spark, vt, dir, 0L, -1L, cur)
        Some((-1L, cur))
    }
  }
}
