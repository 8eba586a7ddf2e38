package graft.sources

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every metadata log publishes through [[LogStore]]: an entry that is
  * already there is a concurrent writer's, raised as
  * [[VersionedTable.ConcurrentWriteException]], and no temp file stays
  * behind either way.
  */
class LogStoreSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_logstore_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def temps(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(".tmp-"))

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def table(root: String): VersionedTable = {
    val vt = VersionedTable(spark, root)
    vt.overwrite(spark.range(3).toDF("id"))
    vt
  }

  test("putIfAbsent publishes once, then refuses the same entry") {
    val root = freshRoot("put")
    val dst = new Path(root, "entry.json")
    LogStore.putIfAbsent(fsOf(root), dst, "a".getBytes, "lost")
    val e = intercept[VersionedTable.ConcurrentWriteException](
      LogStore.putIfAbsent(fsOf(root), dst, "b".getBytes, "lost entry"))
    assert(e.getMessage === "lost entry")
    assert(new String(java.nio.file.Files.readAllBytes(new File(s"$root/entry.json").toPath)) === "a")
    assert(temps(root).isEmpty)
  }

  test("replace overwrites in place and leaves no temp file") {
    val root = freshRoot("replace")
    val dst = new Path(root, "sidecar.json")
    LogStore.replace(fsOf(root), spark.sparkContext.hadoopConfiguration, dst, "a".getBytes)
    LogStore.replace(fsOf(root), spark.sparkContext.hadoopConfiguration, dst, "b".getBytes)
    assert(new String(java.nio.file.Files.readAllBytes(new File(s"$root/sidecar.json").toPath)) === "b")
    assert(temps(root).isEmpty)
  }

  test("table manifest: an existing next version is a concurrent commit") {
    val root = freshRoot("manifest")
    val vt = table(root)
    val read = vt.latestManifest
    vt.append(spark.range(3, 4).toDF("id")) // a racing writer takes version 1
    intercept[VersionedTable.ConcurrentWriteException](vt.commitNoop(read, "delete"))
    assert(temps(s"$root/_txlog").isEmpty)
    assert(vt.history().map(_.operation) === Seq("append", "overwrite"))
  }

  test("partitioned snapshot: an existing snapshot id is a concurrent commit") {
    val root = freshRoot("snapshot")
    val pvt = PartitionedVersionedTable(spark, root, "p")
    pvt.append(spark.range(4).select(col("id"), (col("id") % 2).cast("string").as("p")))
    val taken = pvt.latestSnapshot.get
    intercept[VersionedTable.ConcurrentWriteException](
      pvt.commitSnapshot("append", Nil, id = taken))
    assert(temps(s"$root/_snaplog").isEmpty)
  }

  test("multi-table stamp: an existing transaction id is a concurrent stamp") {
    val root = freshRoot("stamp")
    val vt = table(s"$root/t")
    val txn = MultiTableTxn(spark, root)
    val id = txn.commit("bootstrap", Seq(("t", vt, vt.latestVersion.get)))
    intercept[VersionedTable.ConcurrentWriteException](
      txn.stamp(id, "again", Map("t" -> ((s"$root/t", 0L)))))
    assert(temps(s"$root/_txnlog").isEmpty)
  }

  test("change-feed offsets: an existing sequence number is a concurrent consumer") {
    val root = freshRoot("offsets")
    val vt = table(root)
    ChangeFeed.seek(spark, vt, "g", 0L)
    val dir = new Path(new Path(root, "_consumers"), "g")
    intercept[VersionedTable.ConcurrentWriteException](
      ChangeFeed.commitOffset(spark, vt, dir, 0L, 0L, 0L))
    assert(temps(dir.toUri.getPath).isEmpty)
  }
}
