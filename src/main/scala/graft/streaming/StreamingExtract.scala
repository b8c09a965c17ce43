package graft.streaming

import graft.core.PromptMode
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental ingest variant of the extraction pipeline.
  *
  * The reference is purely batch (SURVEY.md §1.1/§2.9 — its only
  * "streaming" behavior is incremental per-page writes); the north rule's
  * resumability is snapshot-based (graft.scale.SnapshotRunner). This module
  * adds the Structured Streaming surface for continuously-arriving crawl
  * drops: file-source `readStream` over the input table directory →
  * the SAME map-only extraction dataflow per micro-batch (`foreachBatch`,
  * so the zero-shuffle plan and all kernel semantics are shared verbatim)
  * → parquet. No watermarks needed: rows are independent documents.
  *
  * End-to-end exactly-once = checkpointed file-source offsets (at-least-
  * once replay) + an IDEMPOTENT sink: each micro-batch writes to its own
  * `batch_id=<id>` partition with mode=overwrite, so a batch replayed
  * after a crash between the parquet write and the offset commit lands on
  * top of its own previous (possibly partial) output instead of appending
  * duplicates — the standard foreachBatch idempotence recipe keyed by the
  * replay-stable `batchId`.
  */
object StreamingExtract {

  /** The north-rule input schema (input_hint). */
  val inputSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** The file source every streaming job here reads: north-rule parquet
    * drops arriving under `inputDir`, at most 64 files per micro-batch. */
  private[streaming] def inputStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", "64")
      .parquet(inputDir)

  /** Append-mode parquet sink at `outputDir` that processes everything
    * available now, then stops; restart with the same `checkpointDir` to
    * resume. */
  private[streaming] def appendParquet(rows: DataFrame, outputDir: String,
      checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outputDir)
      .start()

  def start(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      mode: PromptMode = PromptMode.LayoutAll): StreamingQuery = {
    inputStream(spark, inputDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent per-batch commit: overwrite THIS batch's partition
        // only (replays of an uncommitted batch are self-overwriting)
        ExtractPipeline.run(batch, mode)
          .write.mode("overwrite").parquet(s"$outputDir/batch_id=$batchId")
      }
      .start()
  }

  /** Read everything committed by [[start]]; `batch_id` appears as a
    * partition column. */
  def output(spark: SparkSession, outputDir: String): DataFrame =
    spark.read.option("basePath", outputDir).parquet(s"$outputDir/batch_id=*")
}
