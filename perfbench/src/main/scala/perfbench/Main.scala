package perfbench

import graft.pipeline.ExtractPipeline
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The extraction-job benchmark.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * With `--trace 0` it sets up three times, warms up at local[1], then runs
  * the workload's job as a closed loop (one job at a time) at local[1] on
  * a quarter of the documents and at local[nproc] on all of them, and
  * prints the end-to-end metrics. With `--trace 1` it runs the job at local[nproc]
  * with the layer probes instead: task statistics, the scale layer's own
  * calls, pipeline prefix jobs and the single-thread kernel loop. Every
  * job's output is checked. The last line of standard output is one JSON
  * object: correct, attempted, failed, metrics. */
object Main {

  val SetupPasses = 3
  val MinJobs = 3
  val MaxJobs = 200
  val WarmJobs = 2
  val KernelDocs = 1200

  final case class Job(wall: Double, docs: Long, heapBytes: Long,
      window: TaskStats.Window, scale: Map[String, Double])

  final class Metrics {
    private val out = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, unit: String, v: Double): Unit = out(name) = (v, unit)
    def json: String = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    private def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; choose one of ${Workload.All.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench/work")).toAbsolutePath
    Files.createDirectories(work)
    val bench = new Bench(workload, seed, seconds, work)
    val (attempted, failed, metrics) = if (trace) bench.traced() else bench.endToEnd()
    println(s"${workload.name} seed=$seed: fail_frac=${failed.toDouble / math.max(1L, attempted)}" +
      s" ($failed of $attempted documents failed)")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": ${metrics.json}}""")
    sys.exit(0)
  }

  private val started = System.nanoTime()

  /** A progress line on standard error, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  final class Bench(wl: Workload, seed: Long, seconds: Double, work: Path) {
    private val slots = Runtime.getRuntime.availableProcessors
    private val heap = new HeapWatch
    private var attempted = 0L
    private var failed = 0L

    private def session(n: Int, leg: String): (SparkSession, TaskStats) = {
      javax.imageio.ImageIO.setUseCache(false)
      // the in-memory catalog starts empty, so tables left on disk are stale
      Corpus.deleteTree(work.resolve(s"warehouse-$leg"))
      // ExtractPipeline.newSession's settings, with every directory kept
      // inside the benchmark's work directory
      val spark = SparkSession.builder()
        .master(s"local[$n]")
        .config("spark.sql.shuffle.partitions", (2 * n).toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", work.resolve(s"warehouse-$leg").toUri.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "localhost")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      (spark, stats)
    }

    private def corpus(spark: SparkSession, docs: Int): Corpus =
      Corpus.build(spark, work.resolve("corpus"), wl.name, seed, docs, wl.kinds, wl.incremental)

    /** One set-up: the corpora, the workload's own preparation and the
      * expected sample rows. */
    private def setUp(spark: SparkSession): (Corpus, Corpus, Map[String, Vector[String]]) = {
      val full = corpus(spark, wl.docs)
      val quarter = corpus(spark, wl.docs / 4)
      wl.prepare(spark, full)
      (full, quarter, wl.expectedRows(spark, full))
    }

    /** The job run [[WarmJobs]] times on the quarter corpus, so that the
      * JIT has compiled the program's planning and task code. */
    private def warmUp(spark: SparkSession, quarter: Corpus): Unit = {
      val warm = work.resolve("out").resolve(s"${wl.name}-warm-up")
      val walls = (0 until WarmJobs).map { _ =>
        Corpus.deleteTree(warm)
        Timing.seconds(wl.run(spark, quarter, warm))
      }
      Corpus.deleteTree(warm)
      log(s"warm-up jobs: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    }

    /** Runs the job back to back: `untimed` jobs first (a fresh session's
      * own warm-up), then timed jobs until `budget` seconds of job time
      * have passed.
      * Every job's output is checked outside its timed span. The last
      * job's output is kept, and its path returned. */
    private def loop(spark: SparkSession, stats: TaskStats, c: Corpus,
        expected: Map[String, Vector[String]], budget: Double, tag: String,
        untimed: Int): (Vector[Job], Path) = {
      val jobs = ArrayBuffer.empty[Job]
      var spent = 0.0
      var i = 0
      var last: Path = null
      while ((jobs.length < MinJobs || spent < budget) && i < MaxJobs) {
        val out = work.resolve("out").resolve(s"${wl.name}-$tag-$i")
        Corpus.deleteTree(out)
        heap.reset()
        val group = s"$tag-$i"
        var wall = 0.0
        val res =
          try Some(stats.measure(spark.sparkContext, group) {
            val t0 = System.nanoTime()
            val r = wl.run(spark, c, out)
            wall = (System.nanoTime() - t0) / 1e9
            r
          })
          catch { case NonFatal(e) => System.err.println(s"job failed: $e"); None }
        val heapBytes = heap.windowMaxBytes()
        val bad = res match {
          case Some(r) =>
            try r.failedDocs + OutputCheck.failedDocs(spark, r.output, wl.expectedUrls(spark, c), expected)
            catch { case NonFatal(e) => System.err.println(s"check failed: $e"); c.docs }
          case None => c.docs
        }
        attempted += c.docs
        failed += math.min(bad, c.docs)
        log(f"$tag job $i: ${wall}%.3f s, ${c.docs} docs, $bad failed")
        if (i >= untimed) {
          res.foreach(r => jobs += Job(wall, c.docs, heapBytes, stats.collect(group), r.scale))
          spent += wall
        }
        if (last != null) Corpus.deleteTree(last)
        last = out
        i += 1
      }
      (jobs.toVector, last)
    }

    private def docsPerS(jobs: Seq[Job]) = Stats.median(jobs.map(j => j.docs / j.wall))

    def endToEnd(): (Long, Long, Metrics) = {
      val (setupSpark, _) = session(slots, "n")
      var c, quarter: Corpus = null
      var expected: Map[String, Vector[String]] = null
      val setupS = (0 until SetupPasses).map { _ =>
        val s = Timing.seconds { val s = setUp(setupSpark); c = s._1; quarter = s._2; expected = s._3 }
        log(f"set-up: $s%.3f s")
        s
      }
      setupSpark.stop()

      // warm-up and the local[1] leg first: with one task thread the JIT's
      // compiler threads have spare cores, so the code is compiled before
      // either leg is timed
      val (spark1, stats1) = session(1, "1")
      wl.prepare(spark1, quarter)
      val warmS = Timing.seconds(warmUp(spark1, quarter))
      log(f"warm-up: $warmS%.3f s")
      // the local[1] leg: the same job on a quarter of the documents
      val (jobs1, lastOut1) = loop(spark1, stats1, quarter, wl.expectedRows(spark1, quarter),
        seconds / 2, "1", untimed = 0)
      Corpus.deleteTree(lastOut1)
      spark1.stop()

      val (spark, stats) = session(slots, "n")
      wl.prepare(spark, c)
      val (jobs, lastOut) = loop(spark, stats, c, expected, seconds, "n", untimed = 1)
      Corpus.deleteTree(lastOut)
      spark.stop()

      val m = new Metrics
      val full = docsPerS(jobs)
      m("docs_per_s", "1/s") = full
      m("cpu_ms_per_doc", "ms") = Stats.median(jobs.map(j => j.window.cpuNs / 1e6 / j.docs))
      m("scaling_eff", "ratio") = full / (slots * docsPerS(jobs1))
      m("retained_heap_mb", "MB") = Stats.median(jobs.map(_.heapBytes / 1048576.0))
      m("setup_s", "s") = Stats.median(setupS) + warmS
      (attempted, failed, m)
    }

    /** The incremental recrawl of crawl_mix's documents, run and checked
      * once: the bucketed commit time, the extracted documents and the
      * share of unchanged urls whose output was reused. */
    private def recrawl(spark: SparkSession): (Double, Double, Double) = {
      val c = Corpus.build(spark, work.resolve("corpus"), Recrawl.name, seed, Recrawl.docs,
        Set.empty, incremental = true)
      Recrawl.prepare(spark, c)
      val expected = Recrawl.expectedRows(spark, c)
      val out = work.resolve("out").resolve(Recrawl.name)
      val res = Recrawl.run(spark, c, out)
      val bad = OutputCheck.failedDocs(spark, res.output, Recrawl.expectedUrls(spark, c), expected)
      val src = Recrawl.sources(spark)
      val (changed, fresh, unchanged) = Corpus.snapshotCounts(Recrawl.docs)
      val extracted = src.getOrElse("extracted", 0L)
      if (extracted != changed + fresh)
        System.err.println(s"recrawl extracted $extracted documents, expected ${changed + fresh}")
      attempted += c.docs
      failed += math.min(c.docs, bad + math.abs(extracted - changed - fresh))
      log(s"recrawl: ${c.docs} docs, $bad failed, $extracted extracted")
      (Recrawl.commitSeconds(spark, c), extracted.toDouble,
        src.getOrElse("reused", 0L).toDouble / unchanged)
    }

    def traced(): (Long, Long, Metrics) = {
      val (spark, stats) = session(slots, "n")
      val (c, quarter, expected) = setUp(spark)
      warmUp(spark, quarter)
      val (jobs, lastOut) = loop(spark, stats, c, expected, seconds / 2, "t", untimed = 0)
      val m = new Metrics

      val ws = jobs.map(_.window)
      val taskMs = ws.flatMap(_.taskMs).map(_.toDouble)
      val runMs = ws.map(_.runMs).sum.toDouble
      m("spark.gc_frac", "ratio") = ws.map(_.gcMs).sum / math.max(1.0, runMs)
      m("spark.slot_busy_frac", "ratio") = runMs / (jobs.map(_.wall).sum * 1000 * slots)
      m("spark.task_p50_ms", "ms") = Stats.median(taskMs)
      m("spark.task_max_ms", "ms") = if (taskMs.isEmpty) 0.0 else taskMs.max
      m("spark.tasks", "count") = Stats.median(ws.map(_.tasks.toDouble))
      m("spark.spill_bytes", "bytes") = Stats.median(ws.map(_.spillBytes.toDouble))
      m("spark.task_retries", "count") = ws.map(_.retries).sum.toDouble

      def scale(k: String) = Stats.median(jobs.flatMap(_.scale.get(k)))
      m("scale.prepare_s", "s") = scale("prepare_s")
      m("scale.batch_s_p50", "s") = scale("batch_s_p50")
      m("scale.batch_s_max", "s") = scale("batch_s_max")
      m("scale.resumed_batches", "count") = scale("resumed_batches")
      m("scale.lineage_s", "s") = wl match {
        case CrawlMix => CrawlMix.lineageSeconds(spark, lastOut)
        case _ => 0.0
      }
      Corpus.deleteTree(lastOut)

      val layers = PipelineLayers.run(spark, stats, c.main, wl.spread, c.docs, slots,
        work.resolve("out").resolve(s"${wl.name}-layers"), reps = 2)
      layers.toSeq.sortBy(_._1).foreach { case (k, v) =>
        m(k, if (k.endsWith("_us")) "us" else "bytes") = v }
      val (commitS, extracted, reuse) = if (wl == CrawlMix) recrawl(spark) else (0.0, 0.0, 0.0)
      m("scale.commit_bucketed_s", "s") = commitS
      m("pipeline.extracted_docs", "count") = extracted
      m("pipeline.reuse_ratio", "ratio") = reuse

      val docs = ExtractPipeline.asPageDocs(spark.read.parquet(c.main)).limit(KernelDocs).collect().toVector
      spark.stop()
      val kernel = KernelTrace.run(docs, seconds / 2,
        work.resolve("trace").resolve(s"${wl.name}-seed$seed-kernel-spans.tsv"))
      if (kernel.mismatches > 0) {
        System.err.println(s"traced kernel rows differ from parseDoc on ${kernel.mismatches} documents")
        failed += kernel.mismatches
      }
      attempted += docs.length
      System.err.println(s"kernel residual (root self time): ${KernelTrace.Residual}")
      kernel.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        m(k, if (k.endsWith("_us")) "us" else if (k.endsWith("ratio")) "ratio" else "count") = v }
      (attempted, failed, m)
    }
  }
}
