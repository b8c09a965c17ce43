package perfbench

import graft.gen.InputGen
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Encoders, SparkSession}
import scala.jdk.CollectionConverters._

/** A workload's input tables, materialized as parquet.
  *
  * `main` is the table the timed job reads. `prior` is the previous crawl
  * snapshot, present only for the incremental workload. `sample` holds the
  * urls whose output rows are checked byte for byte. */
final case class Corpus(main: String, prior: Option[String], docs: Long, sample: Vector[String])

/** Builds workload corpora from the public generator (`InputGen.generate`
  * and `InputGen.kindOf`) and caches them on disk.
  *
  * A cache entry is keyed by (workload, docs, seed, `InputGen.CorpusVersion`),
  * so a change to the generator's corpus invalidates it. The newest
  * [[KeepEntries]] entries are kept. */
object Corpus {

  val KeepEntries = 40
  val SampleUrls = 32
  /** Parquet files per table: enough scan splits for every core. */
  val FilesPerTable = 8

  private implicit val rowEnc: org.apache.spark.sql.Encoder[InputGen.Row] = Encoders.product[InputGen.Row]

  /** The ids of the first `n` documents whose kind is in `kinds` (all
    * kinds when empty). */
  def selectIds(seed: Long, n: Int, kinds: Set[String]): Array[Long] =
    if (kinds.isEmpty) Array.tabulate(n)(_.toLong)
    else Iterator.from(0).map(_.toLong).filter(id => kinds(InputGen.kindOf(seed, id))).take(n).toArray

  /** The next snapshot of a crawl of documents `ids`, as the incremental
    * extraction query builds it: every 13th url deleted, every 11th
    * changed (it carries the previous document's payload), every 17th
    * re-added under a new url. Only valid for contiguous ids from 0. */
  def nextSnapshot(seed: Long, id: Long): Seq[InputGen.Row] = {
    val own = InputGen.generate(seed, id)
    val kept =
      if (id % 13 == 0) Nil
      else if (id % 11 == 0 && id > 0) Seq(own.copy(html = InputGen.generate(seed, id - 1).html))
      else Seq(own)
    if (id % 17 == 0) kept :+ own.copy(url = own.url + "?v=2") else kept
  }

  /** Changed, new and unchanged urls of [[nextSnapshot]] over ids 0 until n. */
  def snapshotCounts(n: Long): (Long, Long, Long) = {
    val ids = 0L until n
    val kept = ids.count(_ % 13 != 0).toLong
    val changed = ids.count(id => id % 13 != 0 && id % 11 == 0 && id > 0).toLong
    val fresh = ids.count(_ % 17 == 0).toLong
    (changed, fresh, kept - changed)
  }

  def build(spark: SparkSession, dir: Path, workload: String, seed: Long, n: Int,
      kinds: Set[String], incremental: Boolean): Corpus = {
    val key = s"$workload-n$n-s$seed-${InputGen.CorpusVersion}"
    val entry = dir.resolve(key)
    val main = entry.resolve("main").toString
    val prior = if (incremental) Some(entry.resolve("prior").toString) else None
    val done = entry.resolve("_DONE")
    if (!Files.exists(done)) {
      deleteTree(entry)
      val ids = selectIds(seed, n, kinds)
      val idDs = spark.createDataset(ids.toSeq)(Encoders.scalaLong).repartition(FilesPerTable)
      if (incremental) {
        idDs.map(id => InputGen.generate(seed, id)).write.parquet(prior.get)
        idDs.flatMap(id => nextSnapshot(seed, id)).write.parquet(main)
      } else idDs.map(id => InputGen.generate(seed, id)).write.parquet(main)
      Files.writeString(done, key)
    }
    Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    evict(dir)
    val docs = spark.read.parquet(main).count()
    Corpus(main, prior, docs, sampleUrls(spark, main, seed))
  }

  /** A seeded sample of the table's urls. */
  private def sampleUrls(spark: SparkSession, main: String, seed: Long): Vector[String] = {
    val urls = spark.read.parquet(main).select("url").collect().map(_.getString(0)).sorted
    val rng = new InputGen.Rng(seed, urls.length.toLong, 77L)
    Vector.fill(SampleUrls)(urls(rng.nextInt(urls.length))).distinct
  }

  private def evict(dir: Path): Unit = {
    val entries = Files.list(dir).iterator().asScala.filter(p => Files.exists(p.resolve("_DONE"))).toVector
    entries.sortBy(p => -Files.getLastModifiedTime(p.resolve("_DONE")).toMillis)
      .drop(KeepEntries).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
}
