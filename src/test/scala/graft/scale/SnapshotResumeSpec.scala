package graft.scale

import graft.SparkTestBase
import graft.gen.InputTable
import graft.kernel.{JInt, JObject, JString, PyJson}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class SnapshotResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("kill after K commits, resume processes only the rest, output identical") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dirA = Files.createTempDirectory("snap-a").toString
    val dirB = Files.createTempDirectory("snap-b").toString

    // uninterrupted reference run
    val full = new SnapshotRunner(dirA, nBuckets = 8, bucketsPerCommit = 2)
    assert(full.run(spark, input) == 4)

    // interrupted run: 2 of 4 batches, then "crash"
    val part = new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
    assert(part.run(spark, input, maxBatches = 2) == 2)
    assert(part.committedBuckets().size == 4)

    // resume: a NEW runner instance (fresh process) picks up the manifest
    val resumed = new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
    assert(resumed.run(spark, input) == 2) // exactly the remaining batches
    assert(resumed.committedBuckets().size == 8)

    // idempotence: nothing left to do
    assert(new SnapshotRunner(dirB, nBuckets = 8, bucketsPerCommit = 2)
      .run(spark, input) == 0)

    // byte-identical final output
    val a = full.output(spark).select("url", "md", "cells_json", "error")
    val b = resumed.output(spark).select("url", "md", "cells_json", "error")
    assert(a.count() == 120 && b.count() == 120)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)

    // lineage table covers both run segments and matches the output
    val lin = resumed.lineage(spark)
    assert(lin.count() > 0)
    assert(lin.select(countDistinct("commit_id")).head().getLong(0) == 4)
    assert(lin.agg(sum("n_docs")).head().getLong(0) == 120L)

    // ...row for row: the manifests' lineage equals the lineage of the
    // committed output, with the same schema and column order
    val cols = Seq("bucket", "n_docs", "n_pages", "checksum", "n_filtered", "n_errors")
    assert(lin.schema.map(f => f.name -> f.dataType) ==
      cols.map(_ -> LongType) :+ ("commit_id" -> IntegerType))
    val fromOut = Lineage.fromOutput(resumed.output(spark).drop("bucket"), 8)
      .select(cols.map(col): _*).collect().toSet
    assert(lin.select(cols.map(col): _*).collect().toSet == fromOut)
    assert(lin.count() == fromOut.size)

    // each commit's row count is the n_docs sum of its lineage rows
    val docsPerCommit = lin.groupBy("commit_id").agg(sum("n_docs")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(resumed.commits().map(c => c.id -> c.rows).toMap == docsPerCommit)

    // lineage rides in the manifests: no lineage table is written
    assert(!Files.exists(Paths.get(dirA, "lineage")))
    assert(!Files.exists(Paths.get(dirB, "lineage")))
  }

  test("bucketized input: batch scans read ONLY their buckets' files; output identical; resume green") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dir = Files.createTempDirectory("snap-d").toString
    val refDir = Files.createTempDirectory("snap-ref").toString

    val r = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    r.prepareInput(spark, input)
    r.prepareInput(spark, input) // idempotent no-op (marker present)

    // partition pruning, proved at EXECUTION level: every file the batch
    // scan actually reads lives under its own buckets' partition dirs
    val scan = r.batchScan(spark, Seq(0, 1))
    assert(scan.queryExecution.executedPlan.toString().contains("PartitionFilters"),
      "bucket filter must prune partitions, not post-filter rows")
    val filesRead = scan.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(filesRead.nonEmpty)
    assert(filesRead.forall(f => f.contains("bucket=0/") || f.contains("bucket=1/")),
      s"scan read outside its buckets: ${filesRead.filterNot(f => f.contains("bucket=0/") || f.contains("bucket=1/")).take(3).mkString(", ")}")
    // ...and the layout does contain other buckets it did NOT read
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$dir/input_bucketed/bucket=5")))

    // interrupted bucketized run + resume; output ≡ unbucketized reference
    assert(r.run(spark, input, maxBatches = 2) == 2)
    val resumed = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(resumed.run(spark, input) == 2)
    val b = resumed.output(spark).select("url", "md", "cells_json", "error")
    val direct = graft.pipeline.ExtractPipeline.run(input)
      .select("url", "md", "cells_json", "error")
    assert(b.count() == 120)
    assert(direct.except(b).count() == 0 && b.except(direct).count() == 0)

    // run without prepareInput bucketizes the input itself: the marker
    // and the layout are there after it, and its batches read that layout,
    // not the DataFrame passed in (empty on the second call)
    val ref = new SnapshotRunner(refDir, nBuckets = 8, bucketsPerCommit = 2)
    assert(ref.run(spark, input, maxBatches = 0) == 0)
    assert(Files.exists(Paths.get(refDir, "input_bucketed_PREPARED")))
    assert(Files.isDirectory(Paths.get(s"$refDir/input_bucketed/bucket=5")))
    assert(ref.run(spark, input.limit(0)) == 4)
    val a = ref.output(spark).select("url", "md", "cells_json", "error")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)

    // a marker written before it recorded the schema: the batch scans
    // infer it from the layout, and the output is unchanged
    val legacyDir = Files.createTempDirectory("snap-legacy").toString
    val legacy = new SnapshotRunner(legacyDir, nBuckets = 8, bucketsPerCommit = 2)
    legacy.prepareInput(spark, input)
    Files.writeString(Paths.get(legacyDir, "input_bucketed_PREPARED"), """{"n_buckets": 8}""")
    assert(legacy.batchScan(spark, Seq(0, 1)).columns.toSeq == scan.columns.toSeq)
    assert(legacy.run(spark, input) == 4)
    val c = legacy.output(spark).select("url", "md", "cells_json", "error")
    assert(c.count() == 120)
    assert(a.except(c).count() == 0 && c.except(a).count() == 0)

    // the bucketed copy carries only what extraction reads; a layout
    // written with every input column (by an earlier version, its marker
    // recording that schema) still resumes to the same output
    assert(scan.columns.toSeq == Seq("url", "html", "lang", "bucket"))
    val fullDir = Files.createTempDirectory("snap-fullschema").toString
    val full = input.withColumn("bucket", Lineage.bucketOf(col("url"), 8))
    full.repartition(8, col("bucket")).write.partitionBy("bucket").parquet(s"$fullDir/input_bucketed")
    Files.writeString(Paths.get(fullDir, "input_bucketed_PREPARED"),
      PyJson.dumps(JObject("n_buckets" -> JInt(8), "schema" -> JString(full.schema.json))))
    val wide = new SnapshotRunner(fullDir, nBuckets = 8, bucketsPerCommit = 2)
    assert(wide.batchScan(spark, Seq(0)).columns.toSeq == input.columns.toSeq :+ "bucket")
    assert(wide.run(spark, input) == 4)
    val w = wide.output(spark).select("url", "md", "cells_json", "error")
    assert(w.count() == 120)
    assert(a.except(w).count() == 0 && w.except(a).count() == 0)
  }

  test("a reused outDir refuses an input other than the one it prepared") {
    val dirA = Files.createTempDirectory("snap-in-a").toString
    val dirB = Files.createTempDirectory("snap-in-b").toString
    InputTable.generate(spark, 60L, seed = 7L).write.mode("overwrite").parquet(dirA)
    InputTable.generate(spark, 60L, seed = 8L).write.mode("overwrite").parquet(dirB)
    val out = Files.createTempDirectory("snap-in").toString

    val r = new SnapshotRunner(out, nBuckets = 8, bucketsPerCommit = 2)
    r.prepareInput(spark, spark.read.parquet(dirA))
    intercept[SnapshotRunner.InputMismatchException](r.run(spark, spark.read.parquet(dirB)))
    intercept[SnapshotRunner.InputMismatchException](r.prepareInput(spark, spark.read.parquet(dirB)))
    assert(!Files.exists(Paths.get(out, "manifest")) && !Files.exists(Paths.get(out, "data")))

    // the same files through a fresh DataFrame are the same input
    val resumed = new SnapshotRunner(out, nBuckets = 8, bucketsPerCommit = 2)
    assert(resumed.run(spark, spark.read.parquet(dirA)) == 4)
    val got = resumed.output(spark).select("url", "md", "cells_json", "error")
    val want = graft.pipeline.ExtractPipeline.run(spark.read.parquet(dirA))
      .select("url", "md", "cells_json", "error")
    assert(got.count() == 60)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("crash AFTER data write but BEFORE manifest commit is invisible and idempotent") {
    val input = InputTable.generate(spark, 120L, seed = 7L).cache()
    val dir = Files.createTempDirectory("snap-c").toString
    val r1 = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(r1.run(spark, input, maxBatches = 1) == 1)

    // simulate the torn state: write the NEXT batch's data by hand (what a
    // crash between parquet write and manifest rename leaves behind)
    val committed = r1.committedBuckets()
    val orphanBuckets = (0 until 8).filterNot(committed.contains).take(2)
    val bucketCol = Lineage.bucketOf(col("url"), 8)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    graft.pipeline.ExtractPipeline
      .run(input.filter(bucketCol.isin(orphanBuckets.map(Integer.valueOf): _*)))
      .withColumn("bucket", bucketCol)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/data")

    // snapshot read sees ONLY the committed buckets — orphans invisible
    val visible = r1.output(spark)
    assert(visible.select(countDistinct("bucket")).head().getLong(0) == committed.size.toLong)
    // ...and the orphan batch contributes no lineage rows
    val linBuckets = r1.lineage(spark).select("bucket").collect().map(_.getLong(0)).toSet
    assert(linBuckets.nonEmpty && linBuckets.forall(b => committed.contains(b.toInt)))

    // resume after the "crash": reruns the orphan batch idempotently
    val r2 = new SnapshotRunner(dir, nBuckets = 8, bucketsPerCommit = 2)
    assert(r2.run(spark, input) == 3)
    val out = r2.output(spark)
    assert(out.count() == 120)
    assert(out.select("url").distinct().count() == 120) // no duplicate appends
    // one lineage row per non-empty bucket, counting each document once
    val lin = r2.lineage(spark)
    assert(lin.count() == lin.select("bucket").distinct().count())
    assert(lin.agg(sum("n_docs")).head().getLong(0) == 120L)
  }
}
