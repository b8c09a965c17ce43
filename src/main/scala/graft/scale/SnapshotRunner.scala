package graft.scale

import graft.kernel.{JArray, JInt, JNull, JObject, JString, JValue, PyJson}
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style incremental snapshot commit + resume (north rule: "a
  * killed run resumes from the last committed snapshot without
  * reprocessing").
  *
  * The url space is split into `nBuckets` hash buckets
  * (`pmod(xxhash64(url), nBuckets)` — the url-hash partitioning axis).
  * [[run]] first materializes the input once, partitioned by bucket
  * ([[prepareInput]]), then works in batches of `bucketsPerCommit`
  * buckets: each batch reads a partition-pruned scan of just its buckets,
  * extracts them on the default map-only topology, and after its parquet
  * data lands, a manifest file `commit-<k>.json` carrying the batch's
  * lineage rows is written via temp-file + atomic rename — the commit
  * point, which makes data and lineage visible together. On restart,
  * committed buckets are skipped (the dataflow analog of an anti-join
  * against committed lineage keys; SURVEY.md §2.9 — with bucket
  * granularity the anti-join collapses to a scan predicate, which is what
  * survives at 10^12 rows).
  *
  * Crash-safety contract (the snapshot-log semantics):
  *   - batch data is written with DYNAMIC PARTITION OVERWRITE into
  *     bucket=<k> partitions: a crash between the data write and the
  *     manifest rename leaves orphan partitions that the NEXT run simply
  *     overwrites (the job is deterministic), so re-running an
  *     uncommitted batch is idempotent, never additive;
  *   - [[output]] reads ONLY committed buckets (a partition-pruned filter
  *     derived from the manifest) and [[lineage]] reads only the
  *     manifests — uncommitted partial writes are invisible, exactly like
  *     an Iceberg snapshot read of the last committed snapshot;
  *   - lineage is computed relationally from the read-back committed
  *     batch ([[Lineage.fromOutput]]) — retry/speculation-safe and
  *     consistent with the data by construction. That one aggregate is the
  *     batch's only read-back: the commit's `rows` is its `n_docs` sum.
  *
  * No Iceberg runtime jar ships in this sandbox, so the manifest directory
  * IS the snapshot log; the data layout stays `spark.read.parquet`-
  * compatible (SURVEY.md §7 environment note).
  */
final class SnapshotRunner(
    outDir: String,
    nBuckets: Int = 16,
    bucketsPerCommit: Int = 4) {

  private val dataDir = s"$outDir/data"
  private val manifestDir: Path = Paths.get(outDir, "manifest")
  private val bucketedDir = s"$outDir/input_bucketed"
  private val preparedMarker: Path = Paths.get(outDir, "input_bucketed_PREPARED")

  final case class Commit(id: Int, buckets: Seq[Int], rows: Long, wallMs: Long)

  def committedBuckets(): Set[Int] = commits().flatMap(_.buckets).toSet

  def commits(): Vector[Commit] = manifests().map { j =>
    def l(k: String) = j.get(k).get.asInstanceOf[JInt].value.toLong
    val bs = j.get("buckets").get.asInstanceOf[JArray].items
      .map(_.asInstanceOf[JInt].value.toInt)
    Commit(l("id").toInt, bs, l("rows"), l("wall_ms"))
  }

  private def manifests(): Vector[JObject] = {
    if (!Files.isDirectory(manifestDir)) return Vector.empty
    Files.list(manifestDir).iterator().asScala
      .filter(_.getFileName.toString.matches("commit-\\d+\\.json"))
      .toVector.sortBy(_.getFileName.toString)
      .map(p => PyJson.parse(Files.readString(p)).asInstanceOf[JObject])
  }

  /** The columns of [[Lineage.fromOutput]], all `long`, in its order. */
  private val lineageCols =
    Seq("bucket", "n_docs", "n_pages", "checksum", "n_filtered", "n_errors")

  private def writeCommit(c: Commit, lineage: Seq[Row]): Unit = {
    Files.createDirectories(manifestDir)
    def long(v: Any): JValue = if (v == null) JNull else JInt(BigInt(v.asInstanceOf[Long]))
    val body = PyJson.dumps(JObject(
      "id" -> JInt(c.id), "buckets" -> JArray(c.buckets.map(JInt(_)).toVector),
      "rows" -> JInt(c.rows), "wall_ms" -> JInt(c.wallMs),
      "lineage" -> JArray(lineage.map(r =>
        JObject(lineageCols.map(k => k -> long(r.getAs[Any](k))): _*)).toVector)))
    val tmp = manifestDir.resolve(s".commit-${c.id}.json.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, manifestDir.resolve(f"commit-${c.id}%05d.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** One-time input bucketization, called by [[run]]: materialize the
    * input's [[ExtractPipeline.kernelColumns]] partitioned by
    * `bucket=pmod(xxhash64(url), nBuckets)` so each commit batch reads a
    * PARTITION-PRUNED scan of just its buckets' files. A hash predicate
    * over the raw input cannot be pushed into parquet, so each batch would
    * scan all of it; bucketized, the total input read across all batches
    * is exactly one pass (plus this one bucketing shuffle, which carries
    * only what extraction reads). The explicit `repartition(nBuckets,
    * bucket)` makes each writer task own whole buckets — without it every
    * task writes a sliver into every `bucket=` dir (nTasks x nBuckets
    * small files).
    *
    * Idempotent and crash-safe: the `_PREPARED` marker lands via atomic
    * rename only after the write succeeds; a crash mid-write leaves no
    * marker and the next call rewrites from scratch. The marker carries
    * the bucketed schema, so batch scans need no footer-inference job, and
    * a SHA-256 of the input's sorted file list with the file count. A
    * later call whose file-backed input differs raises
    * [[SnapshotRunner.InputMismatchException]] before any write, instead
    * of committing the bucketed copy of the first input. An input with no
    * files (in-memory, or planned away like `limit(0)`), or a marker that
    * records no input, is not checked: the batches then extract the copy
    * prepared first, whatever DataFrame is passed. */
  def prepareInput(spark: SparkSession, input: DataFrame): Unit = {
    val files = input.inputFiles.sorted
    if (Files.exists(preparedMarker)) {
      val marker = readMarker()
      for (JString(sha) <- marker.get("input_sha256") if files.nonEmpty && sha != sha256(files))
        throw new SnapshotRunner.InputMismatchException(outDir, marker.get("input_files"), files.length)
      return
    }
    val bucketed = input.select(ExtractPipeline.kernelColumns.map(col): _*)
      .withColumn("bucket", Lineage.bucketOf(col("url"), nBuckets))
    bucketed.repartition(nBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(bucketedDir)
    Files.createDirectories(preparedMarker.getParent)
    val tmp = preparedMarker.resolveSibling(".input_bucketed_PREPARED.tmp")
    val inputKeys = if (files.isEmpty) Nil
      else Seq("input_sha256" -> JString(sha256(files)), "input_files" -> JInt(files.length))
    Files.writeString(tmp, PyJson.dumps(JObject(Seq(
      "n_buckets" -> JInt(nBuckets), "schema" -> JString(bucketed.schema.json)) ++ inputKeys: _*)))
    Files.move(tmp, preparedMarker, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readMarker(): JObject =
    PyJson.parse(Files.readString(preparedMarker)).asInstanceOf[JObject]

  private def sha256(files: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.mkString("\n").getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** The scan a commit batch reads, after [[prepareInput]]: the bucketed
    * layout partition-pruned to `buckets` (visible as PartitionFilters in
    * the plan; only those buckets' files are listed), read with the schema
    * the marker records. A marker that records no schema (written by an
    * earlier version) makes the scan infer it from the parquet footers. */
  def batchScan(spark: SparkSession, buckets: Seq[Int]): DataFrame = {
    val schema = readMarker().get("schema")
      .collect { case JString(json) => DataType.fromJson(json).asInstanceOf[StructType] }
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(bucketedDir)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
  }

  /** Bucketize `input` (once), then process up to `maxBatches` uncommitted
    * bucket-batches (-1 = all). Returns the number of batches committed in
    * this invocation. */
  def run(spark: SparkSession, input: DataFrame, maxBatches: Int = -1): Int = {
    prepareInput(spark, input)
    val done = committedBuckets()
    val remaining = (0 until nBuckets).filterNot(done.contains)
    val batches = remaining.grouped(bucketsPerCommit).toVector
    val toRun = if (maxBatches >= 0) batches.take(maxBatches) else batches
    var commitId = commits().map(_.id).maxOption.getOrElse(-1) + 1
    val prevOverwriteMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try toRun.foreach { buckets =>
      val t0 = System.currentTimeMillis()
      val out = ExtractPipeline.run(batchScan(spark, buckets).drop("bucket"))
        .withColumn("bucket", Lineage.bucketOf(col("url"), nBuckets))
      // dynamic overwrite: only the bucket=<k> partitions present in `out`
      // are replaced — a rerun of an uncommitted batch lands identically
      out.write.mode("overwrite").partitionBy("bucket").parquet(dataDir)
      // read back the committed bytes (partition-pruned, with the schema
      // just written) for the lineage — derived from committed data it is
      // retry-safe and exactly describes what the snapshot contains; its
      // at most bucketsPerCommit rows ride in the manifest
      val committed = spark.read.schema(out.schema).parquet(dataDir)
        .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      val lineage = Lineage.fromOutput(committed.drop("bucket"), nBuckets)
        .collect().sortBy(_.getAs[Long]("bucket")).toSeq
      val rows = lineage.map(_.getAs[Long]("n_docs")).sum
      writeCommit(Commit(commitId, buckets, rows, System.currentTimeMillis() - t0), lineage)
      commitId += 1
    } finally prevOverwriteMode match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    toRun.length
  }

  /** Snapshot read: only buckets recorded in the manifest are visible
    * (partition-pruned scan — uncommitted partial writes are invisible). */
  def output(spark: SparkSession): DataFrame = {
    val done = committedBuckets().toSeq.sorted
    spark.read.parquet(dataDir)
      .filter(col("bucket").isin(done.map(Integer.valueOf): _*))
  }

  /** Committed lineage rows (bucket, n_docs, n_pages, checksum,
    * n_filtered, n_errors, commit_id), read from the manifests, so only
    * committed commits contribute. */
  def lineage(spark: SparkSession): DataFrame = {
    val rows = manifests().flatMap { j =>
      val id = Integer.valueOf(j.get("id").get.asInstanceOf[JInt].value.toInt)
      j.get("lineage").get.asInstanceOf[JArray].items.map { r =>
        Row.fromSeq(lineageCols.map(k => r.asInstanceOf[JObject].get(k).get match {
          case JInt(v) => java.lang.Long.valueOf(v.toLong)
          case _       => null
        }) :+ id)
      }
    }
    spark.createDataFrame(rows.asJava, StructType(
      lineageCols.map(StructField(_, LongType)) :+ StructField("commit_id", IntegerType)))
  }
}

object SnapshotRunner {

  /** A run or prepare on an `outDir` whose bucketed copy was made from
    * other input files: committing would publish the old input's
    * extraction under the new snapshot. */
  final class InputMismatchException(outDir: String, prepared: Option[JValue], given: Int)
      extends IllegalStateException(
        s"SnapshotRunner: $outDir was prepared from other input files " +
          s"(${prepared.map(PyJson.dumps).getOrElse("?")} files) than the $given given; " +
          "use a new output directory for a new snapshot")
}
