package perfbench

import graft.pipeline.ExtractPipeline
import graft.scale.{Lineage, SnapshotRunner}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The output columns every extraction topology produces, compared
  * byte for byte. */
object OutputCols {
  val All = Seq("url", "n_pages", "md", "md_nohf", "extracted_text", "cells_json", "filtered", "error")

  def rows(df: DataFrame): Map[String, Vector[String]] =
    df.select(All.map(c => col(c).cast("string")): _*).collect()
      .map(r => r.getString(0) -> Vector.tabulate(All.length)(r.getString)).toMap
}

/** What one run of a workload's job did. `failedDocs` counts documents the
  * job itself found lost; `scale` holds the layer timings the job exposes
  * on its own (seconds, or counts). */
final case class JobResult(output: DataFrame, failedDocs: Long, scale: Map[String, Double])

/** One named workload: how its corpus is chosen, what set-up it needs,
  * and the job the benchmark times. */
sealed trait Workload {
  def name: String
  /** Documents in the corpus at local[nproc]; the local[1] leg uses a quarter. */
  def docs: Int
  /** Payload kinds selected by `InputGen.kindOf`; empty means the default mix. */
  def kinds: Set[String] = Set.empty
  def incremental: Boolean = false
  /** Whether the job spreads pages across tasks (`spreadPages = true`). */
  def spread: Boolean = false

  /** Per-session set-up before the job can run (e.g. the prior snapshot commit). */
  def prepare(spark: SparkSession, c: Corpus): Unit = ()

  /** Runs the job once, writing under `out`; returns its committed output. */
  def run(spark: SparkSession, c: Corpus, out: Path): JobResult

  /** The table the job's output must cover, url for url. */
  def expectedUrls(spark: SparkSession, c: Corpus): DataFrame =
    spark.read.parquet(c.main).select("url")

  /** The sample rows the output must equal, computed by extracting the
    * sampled input rows alone on the default topology. */
  def expectedRows(spark: SparkSession, c: Corpus): Map[String, Vector[String]] =
    OutputCols.rows(ExtractPipeline.run(
      spark.read.parquet(c.main).filter(col("url").isin(c.sample: _*))))
}

object Workload {
  val All: Vector[Workload] = Vector(CrawlMix, PdfSpread)
  def byName(n: String): Option[Workload] = All.find(_.name == n)
}

/** The north-rule job: bucketed input, half the commit batches, then a
  * fresh runner resuming the rest from the manifests. */
object CrawlMix extends Workload {
  val name = "crawl_mix"
  val docs = 12000
  // two commit batches of four buckets: one before the restart, one after
  val Buckets = 8
  val BucketsPerCommit = 4

  def run(spark: SparkSession, c: Corpus, out: Path): JobResult = {
    val input = spark.read.parquet(c.main)
    val dir = out.toString
    val batches = Buckets / BucketsPerCommit
    val first = new SnapshotRunner(dir, Buckets, BucketsPerCommit)
    val prepareS = Timing.seconds(first.prepareInput(spark, input))
    val batchS = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until batches / 2) batchS += Timing.seconds(first.run(spark, input, maxBatches = 1))
    // a fresh runner on the same directory resumes from the manifests
    val resumed = new SnapshotRunner(dir, Buckets, BucketsPerCommit)
    var resumedBatches = 0
    var more = true
    while (more) {
      var ran = 0
      batchS += Timing.seconds { ran = resumed.run(spark, input, maxBatches = 1) }
      resumedBatches += ran
      more = ran > 0
    }
    batchS.remove(batchS.length - 1) // the final call found nothing to run
    // after the resume, the manifests must cover each bucket exactly once
    val coverOk = resumed.commits().flatMap(_.buckets).sorted == (0 until Buckets)
    JobResult(resumed.output(spark).drop("bucket"), if (coverOk) 0L else c.docs,
      Map("prepare_s" -> prepareS, "batch_s_p50" -> Stats.median(batchS.toSeq),
        "batch_s_max" -> batchS.max, "resumed_batches" -> resumedBatches.toDouble))
  }

  /** `Lineage.fromOutput` over a committed snapshot, timed. */
  def lineageSeconds(spark: SparkSession, out: Path): Double = {
    val runner = new SnapshotRunner(out.toString, Buckets, BucketsPerCommit)
    Timing.seconds(Lineage.fromOutput(runner.output(spark).drop("bucket"), Buckets).collect())
  }
}

/** PDF-only corpus through the page-spread topology into a parquet write. */
object PdfSpread extends Workload {
  val name = "pdf_spread"
  val docs = 6000
  override val kinds = Set("pdf", "truncated")
  override val spread = true

  def run(spark: SparkSession, c: Corpus, out: Path): JobResult = {
    ExtractPipeline.run(spark.read.parquet(c.main), spreadPages = true)
      .write.parquet(out.toString)
    JobResult(spark.read.parquet(out.toString), 0L, Map.empty)
  }
}

/** Snapshot k+1 of a recrawl extracted incrementally against the
  * committed, bucketed snapshot k, whose documents are crawl_mix's. It is
  * not a workload of its own: crawl_mix's traced run runs it once. */
object Recrawl extends Workload {
  val name = "recrawl"
  val docs = CrawlMix.docs
  override val incremental = true
  val PriorDigests = "perfbench_digest_k"
  val PriorOutput = "perfbench_output_k"
  val NextDigests = "perfbench_digest_k1"
  val NextOutput = "perfbench_output_k1"

  override def prepare(spark: SparkSession, c: Corpus): Unit = {
    val prior = spark.read.parquet(c.prior.get)
    ExtractPipeline.commitSnapshotBucketed(prior, ExtractPipeline.run(prior),
      PriorDigests, PriorOutput)
  }

  def run(spark: SparkSession, c: Corpus, out: Path): JobResult = {
    val current = spark.read.parquet(c.main)
    val result = ExtractPipeline.runIncremental(
      spark.table(PriorDigests), spark.table(PriorOutput), current)
    ExtractPipeline.commitSnapshotBucketed(current, result, NextDigests, NextOutput)
    JobResult(spark.table(NextOutput), 0L, Map.empty)
  }

  /** Extracted and reused rows of the committed snapshot k+1. */
  def sources(spark: SparkSession): Map[String, Long] =
    spark.table(NextOutput).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `commitSnapshotBucketed` of the already committed snapshot k+1: the
    * bucketed write path alone, timed. */
  def commitSeconds(spark: SparkSession, c: Corpus): Double = {
    val out = spark.table(NextOutput).localCheckpoint()
    Timing.seconds(ExtractPipeline.commitSnapshotBucketed(spark.read.parquet(c.main), out,
      NextDigests + "_copy", NextOutput + "_copy"))
  }
}

/** The output check behind `fail_frac`. */
object OutputCheck {

  /** Documents missing, duplicated, unexpected or byte-wrong in `out`. */
  def failedDocs(spark: SparkSession, out: DataFrame, urls: DataFrame,
      expected: Map[String, Vector[String]]): Long = {
    val counted = out.groupBy("url").agg(count(lit(1)).as("n"))
    val r = counted.join(urls.withColumn("in", lit(1)), Seq("url"), "full_outer")
      .agg(
        sum(when(col("n").isNull, 1L).otherwise(0L)),
        sum(when(col("n") > 1, 1L).otherwise(0L)),
        sum(when(col("in").isNull, 1L).otherwise(0L)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val got = OutputCols.rows(out.filter(col("url").isin(expected.keys.toSeq: _*)))
    val wrong = expected.count { case (u, row) => !got.get(u).contains(row) }
    l(0) + l(1) + l(2) + wrong
  }
}
