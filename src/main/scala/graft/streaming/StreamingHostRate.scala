package graft.streaming

import graft.ops.LinkOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Watermarked per-host fetch-rate monitoring over a continuously-ingested
  * crawl stream — the event-time windowed aggregation a crawl operator
  * watches for politeness violations (one host suddenly fetched too hard)
  * and ingest anomalies (a host's byte volume spiking means a template
  * explosion or a crawler trap).
  *
  * Design (Structured Streaming native):
  *   - event time = `warc_ts` (the FETCH time, not arrival time), tumbling
  *     windows, watermark bounds state: windows older than the watermark
  *     delay finalize, emit once (Append mode), and their state is freed —
  *     without the watermark the window state would grow with the crawl's
  *     lifetime, which at 100 TB/week never fits;
  *   - late arrivals beyond the delay are DROPPED by contract (a recrawl
  *     record arriving days late belongs to the snapshot consolidation
  *     batch tier, not the live rate monitor);
  *   - state per open (host, window) is two longs — payloads never enter
  *     state; the aggregation is partial (map-side combined) before the
  *     state-store shuffle, so a hot host's rows collapse per task first.
  *
  * The same transform runs in batch (watermark is a no-op there and ALL
  * windows emit), which is what the DuckDB oracle replays. Null event
  * times are filtered explicitly so batch and streaming agree (the
  * streaming watermark operator would silently drop them).
  */
object StreamingHostRate {

  /** (host, window_start [epoch sec], n_fetches, n_bytes) per event-time
    * window of `windowDur`, watermark `watermarkDelay`. */
  def hostRate(input: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    input
      .filter(col("warc_ts").isNotNull)
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(LinkOps.hostOf(col("url")).as("host"),
        window(col("warc_ts"), windowDur).as("w"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(coalesce(length(col("html")).cast("long"), lit(0L))).as("n_bytes"))
      .select(col("host"), col("w.start").cast("long").as("window_start"),
        col("n_fetches"), col("n_bytes"))

  /** File-source streaming job: watch `inputDir` for north-rule parquet
    * drops, emit finalized (host, window) rates to `outputDir`. Append
    * mode — a window emits exactly once, when the watermark passes its
    * end; restart with the same `checkpointDir` to resume (offsets +
    * window state + watermark). */
  def start(
      spark: org.apache.spark.sql.SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): StreamingQuery = {
    StreamingExtract.appendParquet(
      hostRate(StreamingExtract.inputStream(spark, inputDir), windowDur, watermarkDelay),
      outputDir, checkpointDir)
  }
}
