package graftbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.operators.{Expectations, Gold, Silver}
import graft.rules.IssueRules
import graft.sources.Lakehouse

/** `issues_nightly`: the reference's Bronze→Silver→Gold job. One cycle is
  * one night: the calls of CLI `silver <bronze> <silver> merge` and
  * `gold <silver> <gold>` over every bronze run (the job), then the
  * `expect` quality gate over silver (a screen), and dashboard reads of
  * the marts (the `demo` verb and a per-component slice), each after a
  * gate over the mart it reads (a screen).
  */
final class Nightly(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  val spec = Gen.IssueSpec(nIssues = Nightly.Issues,
    runs = 4, prShare = 0.1, malformedShare = 0.03, reemitShare = 0.25)
  private var bronze, silverDir, goldDir = ""
  private var truth: Gen.IssueTruth = _
  private var reads = 0

  def setup(dir: Path): Unit = {
    truth = Gen.issues(dir.resolve("bronze"), spec, ctx.seed)
    bronze = dir.resolve("bronze").toString
    silverDir = dir.resolve("silver").toString
    goldDir = dir.resolve("gold").toString
    ctx.extra("rows_per_job") = truth.bronzeRows
    ctx.extra("input") = Map("issues" -> spec.nIssues, "bronze_rows" -> truth.bronzeRows,
      "bronze_bytes" -> truth.bronzeBytes, "runs" -> spec.runs)
  }

  def cycle(): Unit = {
    val counts = ctx.op("nightly.job", "job", input = truth.bronzeBytes) {
      val openClosed = tr.span("nightly.silver_verb", "commit") {
        val rules = IssueRules.reference
        val merged = Lakehouse.mergeRuns(
          spark.read.schema(Silver.bronzeSchema).json(s"$bronze/issues_*.jsonl"))
        val oc = tr.span("nightly.silver") {
          val silver = Silver.transform(Silver.excludePullRequests(merged), rules)
          Lakehouse.writeTable(silver, s"$silverDir/issues_silver")
          (silver.filter(col("state") === "open").count(),
            silver.filter(col("state") === "closed").count())
        }
        tr.span("nightly.catalog") {
          val catalog = Silver.labelCatalog(Silver.excludePullRequests(merged),
            Lakehouse.emptyLabelDescriptions(spark))
          Lakehouse.writeTable(catalog, s"$silverDir/label_catalog")
        }
        oc
      }
      tr.span("nightly.gold", "refresh") {
        val silver = Lakehouse.readTable(spark, s"$silverDir/issues_silver")
        val marts = Gold.buildMarts(silver)
        Lakehouse.writeTable(marts.componentTier, s"$goldDir/kpi_monthly_component_tier")
        Lakehouse.writeTable(marts.global, s"$goldDir/kpi_monthly_global")
        marts.global.count()
      }
      openClosed
    }
    counts.foreach { case (open, closed) =>
      val t = Lakehouse.readTable(spark, s"$goldDir/kpi_monthly_global")
        .agg(sum("created_count"), sum("closed_count")).head()
      ctx.check(Checks.nightly(open + closed, t.getLong(0), t.getLong(1), truth))
    }

    val gate = ctx.op("nightly.screen", "screen") {
      Expectations.audit(Lakehouse.readTable(spark, s"$silverDir/issues_silver"), Seq(
        Expectations.Rule("created_parsed", col("created_at").isNotNull),
        Expectations.Rule("closed_has_ts",
          col("state") =!= "closed" || col("closed_at").isNotNull)))
        .collect()
    }
    gate.foreach { rows =>
      val created = rows.find(_.getString(0) == "created_parsed").get
      ctx.check(Checks.gate(created.getLong(1), created.getLong(3), truth))
    }

    (0 until Nightly.ReadsPerNight).foreach { _ =>
      val i = reads; reads += 1
      val mart = s"$goldDir/" +
        (if (i % 2 == 0) "kpi_monthly_global" else "kpi_monthly_component_tier")
      ctx.op("nightly.screen", "screen") {
        Expectations.audit(Lakehouse.readTable(spark, mart), Seq(
          Expectations.Rule("counts_nonneg", col("created_count") >= 0 && col("closed_count") >= 0)))
          .head()
      }.foreach { r =>
        ctx.check(if (r.getLong(1) > 0 && r.getLong(3) == 0) None
                  else Some(s"$mart gate: ${r.getLong(3)} of ${r.getLong(1)} rows fail"))
      }
      val got = ctx.op("nightly.read", "read") {
        if (i % 2 == 0)
          Lakehouse.readTable(spark, mart)
            .orderBy(desc("month")).limit(5).orderBy("month").collect().length
        else
          Lakehouse.readTable(spark, mart)
            .filter(col("component") === Nightly.Components(i / 2 % Nightly.Components.size))
            .collect().length
      }
      got.foreach(n => ctx.check(if (n > 0) None else Some("dashboard read returned no rows")))
    }

    ctx.spaceAmp += Disk.bytes(silverDir, goldDir).toDouble /
      Disk.liveBytes(silverDir, goldDir)
  }
}

object Nightly {
  val Issues = 60000
  val ReadsPerNight = 12
  val Components = Seq("Indexing", "storage", "Strings", "parser")
}
