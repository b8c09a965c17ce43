package perfbench

import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prefix jobs of the extraction pipeline on one input, each run to a
  * sink, so that differences between them give each stage's cost.
  *
  * Times are slot-µs per document (wall × slots ÷ documents), comparable
  * with the single-thread kernel loop; bytes are per document. */
object PipelineLayers {

  def run(spark: SparkSession, stats: TaskStats, input: String, spread: Boolean,
      docs: Long, slots: Int, out: java.nio.file.Path, reps: Int): Map[String, Double] = {
    def read: DataFrame = spark.read.parquet(input)
    var n = 0
    /** Best wall of `reps` runs, with the task statistics of the last. */
    def best(body: => Unit): (Double, TaskStats.Window) = {
      val walls = (0 until reps).map { _ =>
        n += 1
        val s = stats.measure(spark.sparkContext, s"layers-$n")(Timing.seconds(body))
        Corpus.deleteTree(out)
        s
      }
      (walls.min, stats.collect(s"layers-$n"))
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val (scan, scanStats) = best(noop(ExtractPipeline.asPageDocs(read).toDF()))
    val (parse, _) = best(noop(ExtractPipeline.parsePages(
      ExtractPipeline.asPageDocs(read), spreadPages = spread).toDF()))
    val (assembled, _) = best(noop(ExtractPipeline.run(read, spreadPages = spread)))
    val (written, writeStats) = best(
      ExtractPipeline.run(read, spreadPages = spread).write.parquet(out.toString))

    def us(s: Double) = s * 1e6 * slots / docs
    Map(
      "pipeline.scan_us" -> us(scan),
      "pipeline.kernel_us" -> us(parse - scan),
      "pipeline.assemble_us" -> us(assembled - parse),
      "pipeline.write_us" -> us(written - assembled),
      "pipeline.scan_bytes" -> scanStats.inputBytes.toDouble / docs,
      "pipeline.write_bytes" -> writeStats.outputBytes.toDouble / docs,
      "pipeline.shuffle_bytes" -> writeStats.shuffleWriteBytes.toDouble / docs)
  }
}
