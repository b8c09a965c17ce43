package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Dedupe-on-arrival for continuously-ingested crawl drops.
  *
  * The batch dedup tier ([[graft.ops.DedupOps]]) answers "which documents in
  * this corpus are duplicates"; this module answers the streaming form a
  * training-data pipeline actually runs: "is this newly-arrived document a
  * duplicate of ANYTHING seen so far" — without rescanning history.
  *
  * Design (Spark-first, state-store-native):
  *   - key = 64-bit content hash (`xxhash64(text)` for exact identity, or
  *     the 64-bit SimHash signature for order/whitespace-insensitive
  *     near-identity). Only the 8-byte key and an 8-byte first-seen marker
  *     live in the state store — document text never enters state, so state
  *     size is O(distinct docs · 16 bytes), which at 100 TB-corpus scale
  *     (~10^10 distinct docs) is ~160 GB spread across the shuffle
  *     partitions of the state store (RocksDB-backed in a real cluster:
  *     `spark.sql.streaming.stateStore.providerClass`), not heap.
  *   - `flatMapGroupsWithState` in Append mode, no timeout: a key's state
  *     is a single "seen" flag; the first row of a group (ordered
  *     deterministically by (warc_ts, url) within the micro-batch) is
  *     emitted, every later arrival for the same key — same batch or any
  *     later batch — is dropped (or emitted to a quarantine flag).
  *   - exactly-once: checkpointed source offsets + state survive restarts;
  *     replayed batches re-observe the same state transitions.
  *
  * Banded MinHash/LSH near-dup against all of history is deliberately NOT
  * a streaming op here: one document fans out to `bands` buckets whose
  * pairwise verification needs the other bucket members' signatures — state
  * per bucket grows with corpus boilerplate and the verification join is
  * exactly what [[graft.scale.SnapshotRunner]]'s resumable batch passes are
  * for. Streaming handles identity-class dedup (exact + simhash-exact);
  * similarity-class dedup stays batch. */
object StreamingDedup {

  /** One arrival, hashed. `key` is the dedup identity (content hash or
    * simhash signature); payload columns ride along untouched. (Public:
    * encoder codegen constructs it in generated projections.) */
  case class Keyed(key: Long, url: String, warcTs: Long, text: String, lang: String)

  /** Emitted row: first arrival of each identity key. `dup_of_state`
    * is false for the emitted survivor (duplicates are simply dropped —
    * Append mode emits survivors only). */
  case class Survivor(url: String, warc_ts: Long, text: String, lang: String, key: Long)

  /** Dedup transform over a streaming (or batch) north-rule input frame.
    * `byNearIdentity = false` keys on `xxhash64(text)` (exact); `true` keys
    * on the 64-bit SimHash signature (catches reorder/whitespace variants
    * that hash apart but simhash together). */
  def dedupStream(input: DataFrame, byNearIdentity: Boolean = false): Dataset[Survivor] = {
    val spark = input.sparkSession
    import spark.implicits._
    val keyExpr =
      if (byNearIdentity)
        graft.ops.DedupOps.simhashOfHashes(graft.ops.DedupOps.tokenHashes(col("text")))
      else xxhash64(col("text"))
    val keyed = input.select(
      keyExpr.as("key"),
      col("url"),
      col("warc_ts").cast("long").as("warcTs"),
      col("text"),
      col("lang")).as[Keyed]
    keyed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(firstSeen)
  }

  /** State = "this key has been seen". Emits the deterministic first row
    * of an unseen group (min by (warcTs, url) — micro-batch group iterators
    * carry no order guarantee), nothing for seen groups. */
  private def firstSeen(
      key: Long, rows: Iterator[Keyed], state: GroupState[Boolean]): Iterator[Survivor] = {
    if (state.exists) Iterator.empty
    else {
      var best: Keyed = null
      while (rows.hasNext) {
        val r = rows.next()
        if (best == null || r.warcTs < best.warcTs ||
          (r.warcTs == best.warcTs && r.url < best.url)) best = r
      }
      state.update(true)
      Iterator.single(Survivor(best.url, best.warcTs, best.text, best.lang, key))
    }
  }

  /** File-source streaming job: watch `inputDir` for new north-rule parquet
    * drops, emit first-seen documents to `outputDir` as parquet. Restart
    * with the same `checkpointDir` to resume (offsets + dedup state). */
  def start(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      byNearIdentity: Boolean = false): StreamingQuery = {
    StreamingExtract.appendParquet(
      dedupStream(StreamingExtract.inputStream(spark, inputDir), byNearIdentity).toDF(),
      outputDir, checkpointDir)
  }
}
