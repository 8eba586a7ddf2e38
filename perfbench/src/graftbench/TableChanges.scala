package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{MergeIntoInsert, MergeIntoUpdate}
import graftbench.Gen.TRow

/** `table_changes`: one client issuing a seeded mix of writes and reads
  * against a long-lived flat `VersionedTable` (with an incrementally
  * maintained aggregate MV) and a `PARTITIONED BY` catalog table reached
  * through SQL. The flat table is preloaded and clustered by id into
  * `PreloadDirs` data dirs, so a batch's key locality decides how many
  * dirs a copy-on-write commit rewrites. One cycle is one round of a
  * fixed op schedule, so every run issues the same op mix and the seed
  * only changes the keys and values. Every commit updates an in-memory
  * model; reads, the MV and sampled full scans are checked against it.
  */
final class TableChanges(ctx: Ctx) extends Workload {
  override def minCycles: Int = TableChanges.Rounds
  import ctx.spark
  import spark.implicits._
  import TableChanges._

  private val preloadRows = PreloadRows
  private val batchRows = BatchRows
  private val rnd = new SplittableRandom(ctx.seed ^ 0x7ab1eL)
  private var dir: Path = _
  private var vt: VersionedTable = _
  private var mv: VersionedTable = _
  private var catName = ""
  // model of the flat table at each live version, and of the catalog table
  private val models = mutable.LinkedHashMap.empty[Long, HashMap[Long, TRow]]
  private var cat = HashMap.empty[Long, (String, Long)]
  private var nextId = 0L
  private var catNext = 0L
  private var clock = 0L
  private var mvAt = 0L
  private var commitsSinceRefresh, commitsSinceMaintain, batchNo = 0
  private val dirsRewritten = mutable.ArrayBuffer.empty[Int]
  private val dirsCarried = mutable.ArrayBuffer.empty[Int]
  private var changeRows = 0L
  private var compactions = 0

  private def latest: Long = vt.latestVersion.get
  private def model: HashMap[Long, TRow] = models(latest)

  private def toDf(rows: Seq[TRow]): DataFrame =
    rows.map(r => (r.id, r.grp, r.v, r.updatedAt, r.payload))
      .toDF("id", "grp", "v", "updated_at", "payload")

  private def rowsOf(df: DataFrame): Seq[TRow] =
    df.select("id", "grp", "v", "updated_at", "payload").collect().toSeq
      .map(r => TRow(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))

  private def newRows(n: Int): Seq[TRow] = {
    clock += 1
    (0 until n).map { _ => nextId += 1; Gen.row(rnd, nextId - 1, Groups, clock) }
  }

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    models.clear(); nextId = 0L; clock = 0L
    vt = VersionedTable(spark, d.resolve("flat").toString, Seq("id"))
    val rows = newRows(preloadRows)
    val m = HashMap(rows.map(r => r.id -> r): _*)
    vt.overwrite(toDf(rows))
    models(latest) = m
    // OPTIMIZE by id: one chunk dir per id range, as a long-lived table
    // has, then one young append dir that recent keys start in
    vt.compactClustered(Seq("id"), nChunks = PreloadDirs)
    models(latest) = m
    val young = newRows(RecentIds.toInt)
    vt.append(toDf(young))
    models(latest) = m ++ young.map(r => r.id -> r)
    mv = VersionedTable(spark, d.resolve("mv").toString)
    IncrementalAgg.bootstrap(mv, vt, Seq("grp"), "v")
    mvAt = latest

    catName = s"bench.t_${d.getFileName}"
    spark.sql(s"DROP TABLE IF EXISTS $catName")
    spark.sql(s"CREATE TABLE $catName (id BIGINT, part STRING, v BIGINT) " +
      "USING graft PARTITIONED BY (part)")
    val catRows = (0 until CatalogRows).map(i => (i.toLong, s"p${i % Parts}", i.toLong))
    catRows.toDF("id", "part", "v").createOrReplaceTempView("bench_cat_src")
    spark.sql(s"INSERT INTO $catName SELECT id, part, v FROM bench_cat_src")
    cat = HashMap(catRows.map { case (id, p, v) => id -> (p, v) }: _*)
    catNext = catRows.size.toLong

    batchNo = 0
    commitsSinceRefresh = 0; commitsSinceMaintain = 0
    ctx.extra("input") = Map("preload_rows" -> preloadRows, "preload_dirs" -> PreloadDirs,
      "batch_rows" -> batchRows, "groups" -> Groups, "catalog_rows" -> catRows.size,
      "catalog_parts" -> Parts, "recent_ids" -> RecentIds, "spread_blocks" -> SpreadBlocks,
      "refresh_every" -> RefreshEvery, "maintain_every" -> MaintainEvery,
      "compact_min_rows" -> CompactMinRows, "full_check_every" -> FullCheckEvery,
      "rounds" -> Rounds)
  }

  // ---- key choice: recent keys sit in the young dirs; spread keys in
  // `SpreadBlocks` of the preload's id ranges, so in two or three old dirs

  private def keys(n: Int, recent: Boolean): Seq[Long] = {
    val live = model.keysIterator.toVector
    val pool =
      if (recent) live.filter(_ >= nextId - RecentIds)
      else {
        val block = preloadRows / PreloadDirs
        val blocks = mutable.Set.empty[Int]
        while (blocks.size < SpreadBlocks) blocks += rnd.nextInt(PreloadDirs)
        live.filter(k => k < preloadRows && blocks(k.toInt / block))
      }
    require(2 * pool.size >= n, s"key pool of ${pool.size} for a batch of $n")
    Seq.fill(n)(pool(rnd.nextInt(pool.size))).distinct
  }

  private def landBatch(rows: Seq[TRow]): (String, Long) = {
    val p = dir.resolve(s"batches/b$batchNo.parquet").toString
    batchNo += 1
    toDf(rows).coalesce(1).write.parquet(p)
    changeRows += rows.size
    (p, Disk.liveBytes(p))
  }

  // ---- the op stream

  def cycle(): Unit = {
    Round.foreach(op)
    ctx.extra("rows_total") = changeRows
  }

  private def op(name: String): Unit =
    if (ctx.failed == 0) name match {
      case "merge"       => merge(recent = true)
      case "merge_spread" => merge(recent = false)
      case "merge_into"  => mergeInto()
      case "delete"      => delete()
      case "update"      => update()
      case "append"      => append()
      case "sql_merge"   => sqlMerge()
      case "sql_delete"  => sqlDelete()
      case "read_where"  => readWhere()
      case "read_point"  => readPoint()
      case "read_version" => readVersion()
      case "changes"     => changes()
      case "dsv2_read"   => dsv2Read()
      case "sql_select"  => sqlSelect()
      case "screen"      => screen()
    }

  /** A flat-table commit: run it, record the new model, then the shape
    * counters, space amplification, MV refresh and maintenance it is due.
    */
  private def flatCommit(span: String, input: Long)(body: => Unit)(
      next: HashMap[Long, TRow] => HashMap[Long, TRow]): Unit = {
    val before = latest
    val base = model
    if (ctx.op(span, "commit", input)(body).isEmpty) return
    val v = latest
    models(v) = next(base)
    afterCommit(before, v)
    if (ctx.failed == 0 && commitsSinceRefresh >= RefreshEvery) refresh()
    if (ctx.failed == 0 && commitsSinceMaintain >= MaintainEvery) maintain()
  }

  private def afterCommit(before: Long, v: Long): Unit = {
    val a = vt.manifestOf(before).dataDirs.toSet
    val b = vt.manifestOf(v).dataDirs.toSet
    dirsRewritten += (a -- b).size
    dirsCarried += (b intersect a).size
    commitsSinceRefresh += 1; commitsSinceMaintain += 1
    while (models.size > KeepModels) models.remove(models.head._1)
    ctx.spaceAmp += Disk.bytes(vt.root, mv.root).toDouble /
      Disk.liveTableBytes(spark, vt.root, mv.root)
    if (v % FullCheckEvery == 0) ctx.check(Checks.rows("full read", rowsOf(vt.read()), model.values))
  }

  /** A recent-key merge updates young rows and inserts new ones; a spread
    * merge only updates old rows, so new keys stay in young dirs. */
  private def merge(recent: Boolean): Unit = {
    val upd = keys(if (recent) batchRows * 7 / 10 else batchRows, recent)
    clock += 1
    val rows = upd.map(k => model(k).copy(v = rnd.nextInt(1000000).toLong, updatedAt = clock)) ++
      (if (recent) newRows(batchRows - upd.size) else Nil)
    val (p, bytes) = landBatch(rows)
    flatCommit("table.merge", bytes) {
      vt.merge(spark.read.parquet(p), keyCols = Seq("id"), orderCol = "updated_at")
    }(_ ++ rows.map(r => r.id -> r))
  }

  private def mergeInto(): Unit = {
    val upd = keys(batchRows / 2, recent = true)
    clock += 1
    val changed = upd.map(k => model(k).copy(v = rnd.nextInt(1000000).toLong, updatedAt = clock))
    val rows = changed ++ newRows(batchRows - upd.size)
    val (p, bytes) = landBatch(rows)
    flatCommit("table.merge_into", bytes) {
      val src = spark.read.parquet(p).select(col("id").as("sid"), col("grp").as("sgrp"),
        col("v").as("sv"), col("updated_at").as("supd"), col("payload").as("spay"))
      vt.mergeInto(src, col("id") === col("sid"),
        matched = Seq(MergeIntoUpdate(None, Map("v" -> col("sv"), "updated_at" -> col("supd")))),
        notMatched = Seq(MergeIntoInsert(None, Map("id" -> col("sid"), "grp" -> col("sgrp"),
          "v" -> col("sv"), "updated_at" -> col("supd"), "payload" -> col("spay")))))
    }(m => m ++ rows.map(r => r.id -> m.get(r.id).fold(r)(o => o.copy(v = r.v, updatedAt = r.updatedAt))))
  }

  private def delete(): Unit = {
    val ks = keys(batchRows / 2, recent = true)
    flatCommit("table.delete", 0L) {
      vt.delete(col("id").isin(ks: _*))
    }(_ -- ks)
  }

  private def update(): Unit = {
    val ks = keys(batchRows / 2, recent = false)
    flatCommit("table.update", 0L) {
      vt.update(col("id").isin(ks: _*), Map("v" -> (col("v") + 1)))
    }(m => m ++ ks.map(k => k -> m(k).copy(v = m(k).v + 1)))
  }

  private def append(): Unit = {
    val rows = newRows(batchRows)
    val (p, bytes) = landBatch(rows)
    flatCommit("table.append", bytes) {
      vt.append(spark.read.parquet(p))
    }(_ ++ rows.map(r => r.id -> r))
  }

  private def catKeys(n: Int): Seq[Long] = {
    val live = cat.keysIterator.toVector
    Seq.fill(n)(live(rnd.nextInt(live.size))).distinct
  }

  private def sqlMerge(): Unit = {
    val upd = catKeys(batchRows / 2).map(k => (k, cat(k)._1, rnd.nextInt(1000000).toLong))
    val ins = (0 until batchRows / 2).map { _ =>
      catNext += 1; (catNext, s"p${rnd.nextInt(Parts)}", rnd.nextInt(1000000).toLong)
    }
    val p = dir.resolve(s"batches/b$batchNo.parquet").toString
    batchNo += 1
    (upd ++ ins).toDF("sid", "spart", "sv").coalesce(1).write.parquet(p)
    changeRows += upd.size + ins.size
    if (ctx.op("table.sql_dml", "commit", Disk.liveBytes(p)) {
      spark.read.parquet(p).createOrReplaceTempView("bench_src")
      spark.sql(s"""MERGE INTO $catName t USING bench_src s
                   |ON t.part = s.spart AND t.id = s.sid
                   |WHEN MATCHED THEN UPDATE SET v = s.sv
                   |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.sid, s.spart, s.sv)
                   |""".stripMargin)
    }.isDefined) cat = cat ++ (upd ++ ins).map { case (k, p, v) => k -> (p, v) }
  }

  private def sqlDelete(): Unit = {
    val ks = catKeys(batchRows / 2)
    if (ctx.op("table.sql_dml", "commit") {
      spark.sql(s"DELETE FROM $catName WHERE id IN (${ks.mkString(",")})")
    }.isDefined) cat = cat -- ks
  }

  // ---- reads, each checked against the model

  private def range(): (Long, Long) = {
    val live = model.keysIterator.toVector
    val lo = live(rnd.nextInt(live.size))
    (lo, lo + ReadSpan)
  }

  private def inRange(m: HashMap[Long, TRow], lo: Long, hi: Long) =
    m.valuesIterator.filter(r => r.id >= lo && r.id < hi).toSeq

  private def readWhere(): Unit = {
    val (lo, hi) = range()
    ctx.op("table.read_where", "read") {
      rowsOf(vt.readWhere(col("id") >= lo && col("id") < hi))
    }.foreach(got => ctx.check(Checks.rows("readWhere", got, inRange(model, lo, hi))))
  }

  private def readPoint(): Unit = {
    val k = keys(1, recent = true).head
    ctx.op("table.read_point", "read") {
      rowsOf(vt.readPoint("id", k))
    }.foreach(got => ctx.check(Checks.rows("readPoint", got, model.get(k))))
  }

  private def readVersion(): Unit = {
    val v = models.keys.toSeq.reverse.drop(2).headOption.getOrElse(latest)
    val (lo, hi) = range()
    ctx.op("table.read_version", "read") {
      rowsOf(vt.readVersion(v).filter(col("id") >= lo && col("id") < hi))
    }.foreach(got => ctx.check(Checks.rows(s"readVersion($v)", got, inRange(models(v), lo, hi))))
  }

  private def changes(): Unit = {
    val vs = models.keys.toSeq.takeRight(3)
    val (a, b) = (vs.head, vs.last)
    ctx.op("table.changes", "read") {
      vt.changes(a, b).select("id", "grp", "v", "updated_at", "payload", "_change_type")
        .collect().toSeq.map(r => (TRow(r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4)), r.getString(5)))
    }.foreach(got => ctx.check(Checks.changes(got, models(a), models(b))))
  }

  private def dsv2Read(): Unit = {
    val (lo, hi) = range()
    ctx.op("table.dsv2_read", "read") {
      rowsOf(spark.read.format("graft").load(vt.root).filter(col("id") >= lo && col("id") < hi))
    }.foreach(got => ctx.check(Checks.rows("graft format read", got, inRange(model, lo, hi))))
  }

  private def sqlSelect(): Unit = {
    val part = s"p${rnd.nextInt(Parts)}"
    ctx.op("table.sql_select", "read") {
      val r = spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $catName WHERE part = '$part'").head()
      (r.getLong(0), r.getLong(1))
    }.foreach { got =>
      val want = cat.valuesIterator.filter(_._1 == part).map(_._2).toSeq
      ctx.check(if (got == (want.size.toLong, want.sum)) None
                else Some(s"sql select $part: got $got, want ${(want.size, want.sum)}"))
    }
  }

  /** Which keys of an incoming batch already exist: the pre-merge screen. */
  private def screen(): Unit = {
    val ks = keys(batchRows / 2, recent = false) ++
      (0 until batchRows / 2).map(i => nextId + 1000000L + i)
    ctx.op("table.screen", "screen") {
      vt.readMatching(ks.toDF("id"), "id").select("id").as[Long].collect().toSet
    }.foreach { got =>
      val want = ks.filter(model.contains).toSet
      ctx.check(if (got == want) None
                else Some(s"readMatching: ${(got -- want).size} unexpected, ${(want -- got).size} missing"))
    }
  }

  // ---- MV refresh and maintenance, due after commits

  private def refresh(): Unit = {
    val to = latest
    if (ctx.op("table.mv_refresh", "refresh") {
      IncrementalAgg.maintain(mv, vt, mvAt, to, Seq("id"), Seq("grp"), "v")
    }.isEmpty) return
    mvAt = to
    commitsSinceRefresh = 0
    ctx.check(Checks.mv(mvGroups(), models(to).values))
  }

  private def mvGroups(): Map[String, (Long, Long)] =
    mv.read().select("grp", "n_rows", "sum_value").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def maintain(): Unit = {
    val before = latest
    val base = model
    if (ctx.op("table.maintain", "") {
      if (vt.compactSmall(CompactMinRows).isDefined) compactions += 1
      vt.vacuum(keepVersions = KeepModels)
      mv.vacuum(keepVersions = 2)
    }.isEmpty) return
    commitsSinceMaintain = 0
    val v = latest
    if (v != before) {
      models(v) = base
      afterCommit(before, v)
    }
    // the MV's `from` version must survive the log's vacuum
    if (!vt.versionExists(mvAt)) refresh()
  }

  override def finish(): Unit = {
    ctx.check(Checks.rows("final read", rowsOf(vt.read()), model.values))
    ctx.check(Checks.mv(mvGroups(), models(mvAt).values))
    val vs = models.keys.toSeq.takeRight(2)
    ctx.check(Checks.changes(vt.changes(vs.head, vs.last)
      .select("id", "grp", "v", "updated_at", "payload", "_change_type").collect().toSeq
      .map(r => (TRow(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)),
        r.getString(5))), models(vs.head), models(vs.last)))
    val catGot = spark.sql(s"SELECT id, part, v FROM $catName").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    ctx.check(if (catGot == cat) None else Some("final catalog table differs from the model"))
    ctx.extra("shape") = Map(
      "dirs_rewritten" -> dirsRewritten.toSeq, "dirs_carried" -> dirsCarried.toSeq,
      "compactions" -> compactions, "log_versions" -> vt.versions.size,
      "live_dirs" -> vt.manifestOf(latest).dataDirs.size)
  }
}

object TableChanges {
  val PreloadRows = 16000
  val CatalogRows = 4000
  val PreloadDirs = 16
  val BatchRows = 300
  /** The young append dir's size: recent keys start out all in it. */
  val RecentIds = 300L
  val SpreadBlocks = 2
  val Groups = 16
  val Parts = 8
  val ReadSpan = 400L
  val RefreshEvery = 6
  val MaintainEvery = 6
  /** Below a preload dir's 1000 rows: compaction packs the young dirs
    * that appends and recent-key commits leave, not the preload. */
  val CompactMinRows = 900L
  val KeepModels = 8
  val FullCheckEvery = 7
  /** One round: every write, each followed by a read, and a key screen
    * (`readMatching`) before the spread merge and before the SQL MERGE.
    * `merge`, `merge_into` and `delete` hit the newest `RecentIds` keys,
    * in young dirs; `merge_spread` and `update` hit keys in `SpreadBlocks`
    * old id ranges.
    */
  val Round: Seq[String] = Seq("merge", "read_where", "screen", "merge_spread", "read_point",
    "merge_into", "read_version", "delete", "changes", "update", "dsv2_read",
    "append", "sql_select", "screen", "sql_merge", "sql_delete")
  /** Rounds per run: two samples of every op, not one. */
  val Rounds = 2
}
