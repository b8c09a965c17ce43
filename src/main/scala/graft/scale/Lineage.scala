package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucket-granular lineage metrics (north rule: per-partition lineage —
  * partition = url-hash bucket, the same axis SnapshotRunner commits on).
  *
  * Round-1 design routed a record per TASK through a driver-side
  * `CollectionAccumulator`; that funnels every task's record into driver
  * memory (millions of tasks at 100 TB) and Spark does NOT dedupe
  * accumulator adds from re-executed/speculative tasks, so counts were
  * wrong under `spark.task.maxFailures` retries. This version computes
  * lineage RELATIONALLY from the (committed) output itself:
  *   - retry/speculation-safe by construction — whatever tasks reran, the
  *     committed rows are counted once;
  *   - fully distributed (hash aggregate, no driver funnel);
  *   - trivially consistent with the data it describes (it is derived
  *     from it), which is the property resume verification needs.
  * Cost: one extra scan of the output — at commit time that scan reads
  * the freshly written (page-cached) batch. It is SnapshotRunner's only
  * read-back per commit: the commit's row count is the sum of its
  * `n_docs`, and its rows ride in the commit manifest.
  */
object Lineage {

  def bucketOf(url: Column, nBuckets: Int): Column =
    pmod(xxhash64(url), lit(nBuckets))

  /** Lineage over assembled per-document output rows
    * (url, n_pages, md, cells_json, filtered, error …). */
  def fromOutput(docs: DataFrame, nBuckets: Int = 32): DataFrame =
    docs.groupBy(bucketOf(col("url"), nBuckets).as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_pages").cast("long")).as("n_pages"),
        // order-insensitive 64-bit content checksum (xor is commutative —
        // safe under any task/partition order)
        expr("bit_xor(xxhash64(url, md, cells_json))").as("checksum"),
        sum(when(col("filtered"), 1L).otherwise(0L)).as("n_filtered"),
        sum(when(col("error") =!= "", 1L).otherwise(0L)).as("n_errors"))
}
