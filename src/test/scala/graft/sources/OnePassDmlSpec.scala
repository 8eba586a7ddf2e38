package graft.sources

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable.{MergeIntoAction, MergeIntoDelete, MergeIntoInsert, MergeIntoUpdate}

/** Partitioned MERGE INTO and copy-on-write DELETE run as ONE pass over
  * all touched member logs. The reference is the per-member path: each
  * member's flat verb applied to that member's slice, on a byte copy of
  * the same table, so carried dirs keep their names on both sides.
  */
class OnePassDmlSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = s"${System.getProperty("java.io.tmpdir")}/graft_onepass_${spark.sparkContext.applicationId}"
    spark.conf.set("spark.sql.catalog.onepass", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.onepass.warehouse", w)
    w
  }

  /** A catalog table of `parts` partitions and 200 rows, written in two
    * INSERTs so every member holds two dirs (discovery has dirs to carry).
    */
  private def table(name: String, parts: Int = 4): PartitionedVersionedTable = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS onepass.$name")
    spark.sql(s"CREATE TABLE onepass.$name (id BIGINT, part STRING, v BIGINT) " +
      "USING graft PARTITIONED BY (part)")
    for (half <- Seq(0 until 100, 100 until 200)) {
      spark.range(half.start, half.end)
        .select(col("id"), concat(lit("p"), (col("id") % parts).cast("string")).as("part"),
          col("id").as("v"))
        .createOrReplaceTempView("onepass_rows")
      spark.sql(s"INSERT INTO onepass.$name SELECT id, part, v FROM onepass_rows")
    }
    PartitionedVersionedTable(spark, s"$warehouse/$name", "part")
  }

  /** A byte copy of `pvt` under a new root — the per-member reference. */
  private def copyOf(pvt: PartitionedVersionedTable, name: String): PartitionedVersionedTable = {
    val dst = new File(s"$warehouse/$name")
    org.apache.commons.io.FileUtils.deleteDirectory(dst)
    org.apache.commons.io.FileUtils.copyDirectory(new File(pvt.tableRoot), dst)
    PartitionedVersionedTable(spark, dst.getPath, "part")
  }

  private def sourceView(rows: Seq[(Long, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("sid", "spart", "sv").createOrReplaceTempView("onepass_src")
  }

  private def rowsOf(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)

  /** The per-member MERGE: every touched member's flat merge on its slice
    * (creating a member an INSERT routes to), then the NOT MATCHED BY
    * SOURCE sweep of every other member, then one snapshot.
    */
  private def perMemberMerge(pvt: PartitionedVersionedTable, source: DataFrame,
                             cond: Column, matched: Seq[MergeIntoAction],
                             notMatched: Seq[MergeIntoAction],
                             nmbs: Seq[MergeIntoAction]): Long = {
    // slices of ONE materialized source, as the partitioned MERGE takes it
    val (src, release) = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointReleasable(source)
    try {
    val existing = pvt.partitions
    val srcVals = src.select("spart").distinct().collect().map(_.getString(0)).sorted.toSeq
    val touched = if (notMatched.nonEmpty) srcVals else srcVals.filter(existing.contains)
    val schema = pvt.tableSchema.get
    val committed = touched.map { v =>
      if (!existing.contains(v))
        pvt.partition(v).overwrite(spark.createDataFrame(
          new java.util.ArrayList[Row](), schema))
      v -> pvt.partition(v).mergeInto(src.filter(col("spart") === v), cond,
        matched, notMatched, nmbs)
    }
    val rest = if (nmbs.isEmpty) Nil else existing.filterNot(touched.contains).map(v =>
      v -> pvt.partition(v).mergeInto(src.limit(0), cond, matched, Nil, nmbs))
    pvt.commitSnapshot("merge_into", committed ++ rest)
    } finally release()
  }

  /** The per-member DELETE: every member's flat delete. */
  private def perMemberDelete(pvt: PartitionedVersionedTable, pred: Column,
                              hint: Seq[String]): Long =
    pvt.commitSnapshot("delete", (if (hint.nonEmpty) hint else pvt.partitions)
      .map(v => v -> pvt.partition(v).delete(pred)))

  /** Part files holding rows (a flat write's task 0 also leaves an empty
    * file when it gets no rows; a partitioned write opens none).
    */
  private def partFiles(root: String, dir: String): Long =
    spark.read.parquet(new Path(root, dir).toString)
      .select(input_file_name()).distinct().count()

  /** Everything the two layouts must agree on after the same DML: rows,
    * member histories (operation and version per commit), carried dirs
    * by name and new dirs by shape (rows, stats, null counts, part files
    * holding rows), the snapshot vector, and each member's change rows.
    */
  private def assertSameAsPerMember(onePass: PartitionedVersionedTable,
                                    ref: PartitionedVersionedTable,
                                    snapBefore: Long): Unit = {
    assert(rowsOf(onePass.read()) === rowsOf(ref.read()))
    assert(onePass.partitions === ref.partitions)
    assert(onePass.snapshotVersions(onePass.latestSnapshot.get) ===
      ref.snapshotVersions(ref.latestSnapshot.get))
    onePass.partitions.foreach { v =>
      val (a, b) = (onePass.partition(v), ref.partition(v))
      assert(a.history().map(m => (m.version, m.operation)) ===
        b.history().map(m => (m.version, m.operation)), s"history of $v")
      val (ma, mb) = (a.manifestOf(a.latestVersion.get), b.manifestOf(b.latestVersion.get))
      val carried = ma.dataDirs.filter(mb.dataDirs.contains)
      val (newA, newB) = (ma.dataDirs.filterNot(carried.contains),
        mb.dataDirs.filterNot(carried.contains))
      assert(newA.size === newB.size, s"new dirs of $v: $newA vs $newB")
      assert(carried.map(ma.dirRows) === carried.map(mb.dirRows))
      assert(carried.map(ma.stats.get) === carried.map(mb.stats.get))
      newA.zip(newB).foreach { case (da, db) =>
        assert(ma.dirRows(da) === mb.dirRows(db), s"rows of $v/$da")
        assert(ma.stats.get(da) === mb.stats.get(db), s"stats of $v/$da")
        assert(ma.dirNulls.get(da) === mb.dirNulls.get(db), s"nulls of $v/$da")
        assert(partFiles(a.root, da) === partFiles(b.root, db), s"part files of $v/$da")
      }
      val from = onePass.snapshotVersions(snapBefore).getOrElse(v, -1L)
      if (from >= 0)
        assert(a.changes(from, a.latestVersion.get).collect().toSet ===
          b.changes(from, b.latestVersion.get).collect().toSet, s"changes of $v")
    }
    val schema = onePass.tableSchema.get
    def feed(p: PartitionedVersionedTable) = GraftPartitionedChangeBatches.frame(p,
      Seq("id"), None, Some(snapBefore), p.latestSnapshot.get, schema).collect().toSet
    assert(feed(onePass) === feed(ref))
    assert(!new File(s"${onePass.tableRoot}/_staging").exists(),
      "a finished pass leaves no staging dir")
  }

  private val upsertRows: Seq[(Long, String, Long)] =
    (0L until 30L).map(i => (i * 7 % 200, s"p${i * 7 % 200 % 4}", 1000L + i)) ++
      (200L until 220L).map(i => (i, if (i < 205) "p9" else s"p${i % 4}", i))

  test("SQL MERGE with the partition conjunct equals the per-member path, INSERT creating a partition") {
    val a = table("m1")
    val b = copyOf(a, "m1_ref")
    val snap = a.latestSnapshot.get
    sourceView(upsertRows)
    spark.sql("""MERGE INTO onepass.m1 t USING onepass_src s
                |ON t.part = s.spart AND t.id = s.sid
                |WHEN MATCHED AND s.sv % 5 = 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.sv
                |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.sid, s.spart, s.sv)
                |""".stripMargin)
    perMemberMerge(b, spark.table("onepass_src"),
      col("part") === col("spart") && col("id") === col("sid"),
      Seq(MergeIntoDelete(Some(col("sv") % 5 === 0)),
        MergeIntoUpdate(None, Map("v" -> col("sv")))),
      Seq(MergeIntoInsert(None, Map("id" -> col("sid"), "part" -> col("spart"),
        "v" -> col("sv")))), Nil)
    assert(a.partitions.contains("p9"))
    assertSameAsPerMember(a, b, snap)
  }

  test("SQL MERGE with a NOT MATCHED BY SOURCE arm visits every member once") {
    val a = table("m2")
    val b = copyOf(a, "m2_ref")
    val snap = a.latestSnapshot.get
    sourceView(upsertRows.filter(_._2 == "p1"))
    spark.sql("""MERGE INTO onepass.m2 t USING onepass_src s
                |ON t.part = s.spart AND t.id = s.sid
                |WHEN MATCHED THEN UPDATE SET v = s.sv
                |WHEN NOT MATCHED BY SOURCE AND t.v < 20 THEN DELETE
                |""".stripMargin)
    perMemberMerge(b, spark.table("onepass_src"),
      col("part") === col("spart") && col("id") === col("sid"),
      Seq(MergeIntoUpdate(None, Map("v" -> col("sv")))), Nil,
      Seq(MergeIntoDelete(Some(col("v") < 20))))
    assertSameAsPerMember(a, b, snap)
  }

  test("SQL MERGE without the partition conjunct matches flat MERGE, one version per member") {
    val a = table("m3")
    val flat = VersionedTable(spark, s"$warehouse/m3_flat")
    flat.overwrite(a.read().select("id", "part", "v"))
    val before = a.partitions.map(v => v -> a.partition(v).latestVersion.get).toMap
    sourceView(upsertRows.filterNot(_._2 == "p9"))
    spark.sql("""MERGE INTO onepass.m3 t USING onepass_src s ON t.id = s.sid
                |WHEN MATCHED THEN UPDATE SET v = s.sv
                |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.sid, s.spart, s.sv)
                |""".stripMargin)
    flat.mergeInto(spark.table("onepass_src"), col("id") === col("sid"),
      Seq(MergeIntoUpdate(None, Map("v" -> col("sv")))),
      Seq(MergeIntoInsert(None, Map("id" -> col("sid"), "part" -> col("spart"),
        "v" -> col("sv")))))
    assert(rowsOf(a.read()) === rowsOf(flat.read()))
    // members receiving both updates and inserts commit ONE version
    a.partitions.foreach { v =>
      assert(a.partition(v).latestVersion.get === before(v) + 1, s"member $v")
      assert(a.partition(v).history().head.operation === "merge_into")
    }
  }

  test("DELETE with and without a partition bound equals the per-member path") {
    val a = table("d1")
    val b = copyOf(a, "d1_ref")
    val s0 = a.latestSnapshot.get
    val ids = (0L until 200L by 9L)
    val wide = col("id").isin(ids: _*)
    spark.sql(s"DELETE FROM onepass.d1 WHERE id IN (${ids.mkString(", ")})")
    perMemberDelete(b, wide, Nil)
    assertSameAsPerMember(a, b, s0)

    // a partition-bounded delete: one member in the pass, no other log moves
    val s1 = a.latestSnapshot.get
    val others = Seq("p0", "p1", "p3").map(v => v -> a.partition(v).latestVersion.get)
    val passes = collection.mutable.Buffer.empty[Seq[String]]
    a.beforeMemberCommits = vals => passes += vals
    val bounded = col("part") === "p2" && col("v") > 150
    a.delete(bounded, partitionsHint = a.partitionsFor(bounded))
    perMemberDelete(b, bounded, Seq("p2"))
    assert(passes.toSeq === Seq(Seq("p2")))
    assert(others.forall { case (v, ver) => a.partition(v).latestVersion.get == ver })
    assertSameAsPerMember(a, b, s1)
  }

  test("a concurrent commit on one member re-runs the pass for that member only") {
    val a = table("c1")
    val passes = collection.mutable.Buffer.empty[Seq[String]]
    a.beforeMemberCommits = { vals =>
      passes += vals
      if (passes.size == 1) // a racing writer lands a version on p1
        a.partition("p1").append(spark.createDataFrame(
          java.util.List.of(Row(500L, "p1", 500L)), a.tableSchema.get))
    }
    val versions = a.partitions.map(v => v -> a.partition(v).latestVersion.get).toMap
    a.delete(col("id") % 10 === 1)
    assert(passes.toSeq === Seq(Seq("p0", "p1", "p2", "p3"), Seq("p1")))
    assert(a.partition("p1").history().take(2).map(_.operation) === Seq("delete", "append"))
    Seq("p0", "p2", "p3").foreach(v =>
      assert(a.partition(v).latestVersion.get === versions(v) + 1))
    assert(a.read().filter(col("id") % 10 === 1).count() === 0)
    assert(a.read().filter(col("id") === 500).count() === 1)
    assert(!new File(s"${a.tableRoot}/_staging").exists())
  }

  test("a failure after the staged write leaves no staging dir and no commit") {
    val a = table("f1")
    val versions = a.partitions.map(v => v -> a.partition(v).latestVersion.get)
    a.beforeMemberCommits = _ => throw new IllegalStateException("injected")
    val e = intercept[IllegalStateException](a.delete(col("id") % 3 === 0))
    assert(e.getMessage === "injected")
    assert(!new File(s"${a.tableRoot}/_staging").exists())
    assert(versions.forall { case (v, ver) => a.partition(v).latestVersion.get == ver })
    // a pass that died before its cleanup: vacuum sweeps the staged dir
    // past the retention window, and leaves other staging (streams) alone
    val crashed = new File(s"${a.tableRoot}/_staging/dml-crashed/__vt_member=p0")
    val stream = new File(s"${a.tableRoot}/_staging/some-query/0")
    assert(crashed.mkdirs() && stream.mkdirs())
    val old = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
    Seq(crashed.getParentFile, stream.getParentFile).foreach(_.setLastModified(old))
    a.vacuum()
    assert(!crashed.getParentFile.exists() && stream.exists())
  }

  test("a partitioned MERGE or DELETE runs as many Spark jobs on 8 members as on 4") {
    def jobsOf(run: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { run; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    def counts(parts: Int): (Int, Int) = {
      table(s"j$parts", parts)
      sourceView((0L until 40L).map(i => (i * 5, s"p${i * 5 % parts}", i)) ++
        (300L until 320L).map(i => (i, s"p${i % parts}", i)))
      val merge = jobsOf(spark.sql(
        s"""MERGE INTO onepass.j$parts t USING onepass_src s
           |ON t.part = s.spart AND t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET v = s.sv
           |WHEN NOT MATCHED THEN INSERT (id, part, v) VALUES (s.sid, s.spart, s.sv)
           |""".stripMargin))
      val delete = jobsOf(spark.sql(
        s"DELETE FROM onepass.j$parts WHERE id IN (${(0 until 200 by 7).mkString(", ")})"))
      (merge, delete)
    }
    val (m4, d4) = counts(4)
    val (m8, d8) = counts(8)
    assert(m8 === m4, s"MERGE jobs: 4 members $m4, 8 members $m8")
    assert(d8 === d4, s"DELETE jobs: 4 members $d4, 8 members $d8")
  }
}
