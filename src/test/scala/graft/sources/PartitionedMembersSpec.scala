package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bounded member pool behind partitioned writes and its session
  * confs: no member task outlives the verb, and a bad value names its key.
  */
class PartitionedMembersSpec extends SparkSpec {

  private def freshTable(tag: String): PartitionedVersionedTable = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_members_$tag")
    d.toFile.deleteOnExit()
    PartitionedVersionedTable(spark, d.toString, "p")
  }

  private def rows(ps: Seq[String]): DataFrame = {
    import spark.implicits._
    ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "p")
  }

  test("a failing member stops new members and drains in-flight ones before rethrowing") {
    val members = Seq("a", "b", "c", "d", "e", "f")
    val pvt = freshTable("fail")
    pvt.append(rows(members))
    def versions = members.map(v => pvt.partition(v).latestVersion.get)
    val before = versions
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.conf.set(PartitionedVersionedTable.MemberConcurrencyConf, "2")
    try {
      val e = intercept[IllegalStateException] {
        pvt.mapMembers(members) { v =>
          started.add(v)
          if (v == "a") throw new IllegalStateException("member a failed")
          Thread.sleep(300) // still in flight when `a` fails
          pvt.partitionUnchecked(v).append(rows(Seq(v)))
        }
      }
      assert(e.getMessage === "member a failed")
    } finally spark.conf.unset(PartitionedVersionedTable.MemberConcurrencyConf)
    val atReturn = versions
    Thread.sleep(800)
    assert(versions === atReturn, "a member committed after the verb returned")
    assert(started.size < members.size, s"members kept starting: $started")
    // what did run finished before the call returned
    assert(atReturn.zip(before).count { case (now, was) => now > was } ===
      started.size - 1)
  }

  test("a malformed partition conf fails naming its key and value") {
    val pvt = freshTable("conf")
    for ((key, bad) <- Seq(
           PartitionedVersionedTable.MemberConcurrencyConf -> "four",
           PartitionedVersionedTable.MemberConcurrencyConf -> "0",
           PartitionedVersionedTable.MaxRouteValuesConf -> "lots",
           PartitionedVersionedTable.MaxRouteValuesConf -> "-1")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](pvt.append(rows(Seq("x", "y"))))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
          e.getMessage)
      } finally spark.conf.unset(key)
    }
    pvt.append(rows(Seq("x", "y")))
    assert(pvt.partitions === Seq("x", "y"))
  }
}
