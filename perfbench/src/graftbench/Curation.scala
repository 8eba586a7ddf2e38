package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Dedup, Sampling}
import graft.sources.{MultiTableTxn, VersionedTable}

/** `corpus_curation`: one cycle is one night and its days. The night runs
  * the CLI `corpus` verb's calls (clean, then split/pack/manifest) and
  * rebuilds both screening indexes (`dedup-index build`,
  * `substr-index build`) into fresh roots; a training loader then reads
  * every shard of the manifest. Each of the `Days` daily batches runs the
  * calls of `dedup-index screen --append` and `substr-index screen
  * --append`: both screens first, then both appends as one daily load.
  */
final class Curation(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}
  import spark.implicits._

  private val nDocs = Curation.Docs
  private val batchSize = Curation.BatchDocs
  private var dir: Path = _
  private var corpus: Gen.Corpus = _
  private var batches: Seq[Gen.Batch] = Nil
  private var corpusBytes = 0L
  private var cycles = 0

  private def corpusPath = dir.resolve("documents.parquet").toString
  private def batchPath(d: Int) = dir.resolve(s"batch_$d.parquet").toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    corpus = Gen.corpus(nDocs, Curation.DupShare, Curation.BoilerShare, ctx.seed)
    Gen.writeDocs(spark, corpus.docs, corpusPath, files = 4)
    // each day's near-duplicates copy base singletons no other day uses
    val byId = corpus.docs.map(d => d.id -> d).toMap
    val perDay = (batchSize * Curation.DupShare).toInt
    batches = (0 until Curation.Days).map { day =>
      val srcs = corpus.singletons.slice(day * perDay, (day + 1) * perDay).map(byId)
      val b = Gen.batch(batchSize, 1000000L * (day + 1), srcs, Curation.BoilerShare,
        ctx.seed, day)
      Gen.writeDocs(spark, b.docs, batchPath(day), files = 1)
      b
    }
    corpusBytes = Disk.bytes(corpusPath)
    ctx.extra("rows_per_job") = corpus.docs.size.toLong
    ctx.extra("input") = Map("docs" -> corpus.docs.size, "near_dup_pairs" -> corpus.pairs.size,
      "days" -> Curation.Days, "batch_docs" -> batchSize,
      "boilerplate_share" -> Curation.BoilerShare, "corpus_bytes" -> corpusBytes)
  }

  def cycle(): Unit = {
    val night = dir.resolve(s"night$cycles")
    if (cycles > 0) Main.deleteTree(dir.resolve(s"night${cycles - 1}"))
    cycles += 1
    val out = night.resolve("out").toString
    val dedupRoot = night.resolve("didx").toString
    val substrRoot = night.resolve("ssi").toString

    ctx.op("curation.nightly", "job", input = corpusBytes) {
      val docs = spark.read.parquet(corpusPath)
      val kept = tr.span("curation.clean") {
        val keptIds = CorpusPipeline.clean(docs)
        val kept = docs.join(keptIds.select("doc_id"), Seq("doc_id")).localCheckpoint(true)
        kept.write.mode("overwrite").parquet(s"$out/documents_clean.parquet")
        docs.count(); kept.count()
        CorpusPipeline.filterFunnel(docs).orderBy("stage").collect()
        kept
      }
      tr.span("curation.pack") {
        val withSplit = kept.withColumn("split", Sampling.assignSplit(col("doc_id"),
          Seq(0.8 -> "train", 0.9 -> "val"), last = "test"))
        withSplit.groupBy("split").count().collect()
        val packed = Sampling.packShards(withSplit.filter(col("split") === "train"),
          idCol = "doc_id", weightCol = "n_chars", nShards = Curation.Shards)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("shard_id")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        packed.select(col("shard_id"), row_number().over(w).cast("long").as("pos_in_shard"),
            col("doc_id"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/train_manifest.parquet")
      }
      tr.span("curation.index_build", "refresh") {
        val didx = VersionedTable(spark, dedupRoot)
        didx.overwriteBucketed(Dedup.postings(docs, n = 3), Curation.Buckets,
          bucketCols = Seq("sg"), sortCols = Seq("sg"))
        didx.read().count()
        val c = VersionedTable(spark, s"$substrRoot/corpus")
        val i = VersionedTable(spark, s"$substrRoot/index")
        val vc = c.overwrite(docs)
        val vi = i.overwriteBucketed(Dedup.exactSubstrIndex(docs, windowTokens = Curation.Window),
          Curation.Buckets, bucketCols = Seq("h1", "h2"), sortCols = Seq("h1", "h2"))
        MultiTableTxn(spark, substrRoot).commitRetrying("substr_bootstrap",
          Seq(("corpus", c, vc), ("index", i, vi)))
        i.read().count()
      }
    }.foreach { _ =>
      val kept = spark.read.parquet(s"$out/documents_clean.parquet")
        .select("doc_id").as[Long].collect().toSet
      ctx.check(Checks.clean(kept, corpus.docs.map(_.id).toSet, corpus.pairs))
    }

    (0 until Curation.Shards).foreach { s =>
      ctx.op("curation.read", "read") {
        spark.read.parquet(s"$out/train_manifest.parquet").filter(col("shard_id") === s)
          .join(spark.read.parquet(s"$out/documents_clean.parquet"), "doc_id")
          .select("doc_id", "pos_in_shard", "text").collect().length
      }.foreach(n => ctx.check(if (n > 0) None else Some(s"shard $s read no rows")))
    }

    batches.zipWithIndex.foreach { case (b, day) =>
      val bytes = Disk.bytes(batchPath(day))
      ctx.op("curation.screen", "screen", input = bytes) {
        screen(batchPath(day), dedupRoot, substrRoot)
      }.foreach { case (hits, spans) =>
        ctx.check(Checks.dedupScreen(
          hits.select("new_id", "base_id").as[(Long, Long)].collect().toSet, b.pairs)
          .orElse(Checks.substrScreen(
            spans.select("doc_id").distinct().as[Long].collect().toSet, b.flagged)))
      }
    }
    ctx.spaceAmp += Disk.bytes(dedupRoot, substrRoot).toDouble /
      Disk.liveTableBytes(spark, dedupRoot, s"$substrRoot/corpus", s"$substrRoot/index")
  }

  /** Both daily screens, then both appends (the day's load) as one commit. */
  private def screen(batchPath: String, dedupRoot: String,
                     substrRoot: String): (DataFrame, DataFrame) = {
    val batch = spark.read.parquet(batchPath)
    val didx = VersionedTable(spark, dedupRoot)
    val posts = Dedup.postings(batch, n = 3).localCheckpoint(true)
    val hits = Dedup.crossJaccardFromPostings(posts, didx.readBucketed(), minJaccard = 0.5)
      .localCheckpoint(true)
    hits.count(); batch.count()
    hits.orderBy(col("jaccard").desc, col("new_id")).limit(10).collect()

    val txn = MultiTableTxn(spark, substrRoot)
    val t0 = txn.latest.getOrElse(sys.error(s"no stamped transaction at $substrRoot"))
    val index = VersionedTable(spark, s"$substrRoot/index")
    val spans = Dedup.exactSubstrSpansIncremental(batch,
      index.readVersionBucketed(txn.vector(t0)("index")._2),
      windowTokens = Curation.Window).localCheckpoint(true)
    spans.count(); spans.select("doc_id").distinct().count()
    spans.orderBy(col("span_tokens").desc, col("doc_id")).limit(10).collect()

    tr.span("curation.commit", "commit") {
      didx.append(posts)
      val corpus = VersionedTable(spark, s"$substrRoot/corpus")
      val vc = corpus.append(batch.select(corpus.read().columns.map(col).toSeq: _*))
      val vi = index.append(Dedup.exactSubstrIndex(batch, windowTokens = Curation.Window))
      txn.commitRetrying("substr_daily_load", Seq(("corpus", corpus, vc), ("index", index, vi)))
    }
    (hits, spans)
  }
}

object Curation {
  val Docs = 2000
  val BatchDocs = 200
  val Days = 2
  val Shards = 4
  val DupShare = 0.05
  val BoilerShare = 0.1
  val Window = 15
  val Buckets = 8
}
