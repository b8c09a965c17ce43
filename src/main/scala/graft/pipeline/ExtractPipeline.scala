package graft.pipeline

import graft.core._
import graft.kernel.ExtractKernel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-native extraction pipeline (SURVEY.md §3.1 translation).
  * One topology per input contract; on unique urls both give the same rows.
  *
  * Unique input urls (the default, `spreadPages = false`): map-only, ZERO
  * shuffles.
  * {{{
  * inputTable → mapPartitions(ExtractKernel.parseDoc)  // dispatch + parse, in the scan task
  *            → mapPartitions(assembleLocal)           // a url's pages are consecutive
  * }}}
  *
  * Duplicate urls (re-crawls) or pathological per-doc page counts
  * (`spreadPages = true`):
  * {{{
  * inputTable → flatMap(ExtractKernel.fanOut)          // pages as RawPage rows
  *            → repartition(n, url, page_no)           // one doc's pages spread over tasks
  *            → mapPartitions(ExtractKernel.parsePage)
  *            → groupBy(url).agg(sort_array(collect_list(...)))  // assemble
  * }}}
  *
  * Scale design:
  *   - scan splits are already size-balanced
  *     (spark.sql.files.maxPartitionBytes bounds task input), so the
  *     default plan parses map-side and shuffles nothing.
  *   - the kernel runs in `mapPartitions` so per-partition init (none today,
  *     but any future dictionary) is amortized — the reference's
  *     client-per-thread shape (inference.py:12-49).
  *   - column pruning/pushdown: callers keep url/lang/warc_ts filters in
  *     Column form BEFORE `asPageDocs` so they reach the parquet scan.
  *   - [[assemble]]'s aggregates are all Spark builtins (sort_array,
  *     collect_list, array_join, transform) — codegen'd, partial-agg
  *     capable, AQE-sized.
  */
object ExtractPipeline {

  import org.apache.spark.sql.Encoders
  implicit val pageDocEnc: org.apache.spark.sql.Encoder[PageDoc] = Encoders.product[PageDoc]
  implicit val rawPageEnc: org.apache.spark.sql.Encoder[RawPage] = Encoders.product[RawPage]
  implicit val parsedPageEnc: org.apache.spark.sql.Encoder[ParsedPage] = Encoders.product[ParsedPage]

  /** Adapt the (url, warc_ts, html, text, lang) table; keep this AFTER any
    * relational filters so pushdown stays intact. The kernel consumes only
    * (url, html, lang), so warc_ts/text are replaced by literals — the
    * parquet scan then PRUNES those columns (`text` is a full pre-extracted
    * text copy per row; decoding it would roughly double scan bytes and
    * per-row String allocation for nothing). Pinned by PlanSpec. */
  def asPageDocs(df: DataFrame): Dataset[PageDoc] = {
    import df.sparkSession.implicits._
    df.select(col("url"),
      lit(null).cast("timestamp").as("warc_ts"),
      col("html"),
      lit("").as("text"),
      col("lang")).as[PageDoc]
  }

  /** Fan documents out into pages and parse each page. (Lineage metrics
    * are computed relationally from the output — graft.scale.Lineage —
    * not collected here: a task-side channel double-counts under retries
    * and funnels through driver memory.) */
  def parsePages(
      docs: Dataset[PageDoc],
      mode: PromptMode = PromptMode.LayoutAll,
      spreadPages: Boolean = false,
      pageRange: Option[(Int, Int)] = None): Dataset[ParsedPage] = {
    val (rangeStart, rangeEnd) = pageRange.getOrElse((0, -1))
    if (!spreadPages)
      docs.mapPartitions(_.flatMap(d => ExtractKernel.parseDoc(d, mode, rangeStart, rangeEnd)))
    else {
      // an explicit hash repartition on (url, page_no) spreads a 10k-page
      // doc across tasks, at the cost of re-shuffling payload bytes. The
      // partition count is derived, not AQE-coalesced: kernel cost is
      // per-page CPU, not bytes, so byte-based coalescing must not shrink
      // this stage.
      val n = math.max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
      docs.flatMap(d => ExtractKernel.fanOut(d, rangeStart, rangeEnd))
        .repartition(n, col("url"), col("page_no"))
        .mapPartitions(_.map(page => ExtractKernel.parsePage(page, mode)))
    }
  }

  /** Assemble per-document rows: page_no-ordered md join with
    * `\n\n---\n\n` (reference combine_markdown_files), cells concatenated
    * across pages in page order (demo_gradio.py:264-267). Pure builtins. */
  def assemble(pages: Dataset[ParsedPage]): DataFrame = {
    val sorted = sort_array(collect_list(struct(
      col("page_no"), col("md"), col("md_nohf"), col("extracted_text"),
      col("cells_json"), col("filtered"), col("error"))))
    val agg = pages
      .groupBy(col("url"))
      .agg(sorted.as("pages"), count(lit(1)).as("n_pages"))
    agg.select(
      col("url"),
      col("n_pages"),
      array_join(transform(col("pages"), p => p.getField("md")), "\n\n---\n\n").as("md"),
      array_join(transform(col("pages"), p => p.getField("md_nohf")), "\n\n---\n\n").as("md_nohf"),
      array_join(
        filter(transform(col("pages"), p => p.getField("extracted_text")), t => t =!= ""),
        "\n\n").as("extracted_text"),
      concat(lit("["),
        array_join(transform(col("pages"), p =>
          concat(lit("{\"page_no\": "), p.getField("page_no"),
            lit(", \"cells\": "),
            when(p.getField("cells_json") === "", lit("null")).otherwise(p.getField("cells_json")),
            lit("}"))), ", "),
        lit("]")).as("cells_json"),
      aggregate(transform(col("pages"), p => p.getField("filtered")), lit(false), (a, b) => a || b)
        .as("filtered"),
      array_join(filter(transform(col("pages"), p => p.getField("error")), e => e =!= ""), "; ")
        .as("error"))
  }

  /** Raised task-side when [[assembleLocal]]'s unique-url precondition is
    * violated: the silent failure mode (split or merged output rows per
    * url) is converted into a typed job failure naming the route to take
    * instead. */
  final class DuplicateUrlException(url: String) extends IllegalStateException(
    s"assembleLocal: url '$url' appears in more than one input row of this partition; " +
      "the map-side assembly path requires unique input urls — re-run with spreadPages = true")

  /** One document's pages, in page order → the assembled per-doc record —
    * the map-side analog of [[assemble]]'s aggregation, shared verbatim by
    * [[assembleLocal]] and the fused [[WebPipeline]] so the two paths can
    * never diverge column-wise. */
  private[pipeline] def assembleDoc(url: String, ps: Vector[ParsedPage]): ParsedDoc =
    ParsedDoc(
      url = url,
      lang = "",
      n_pages = ps.length,
      md = ps.map(_.md).mkString("\n\n---\n\n"),
      md_nohf = ps.map(_.md_nohf).mkString("\n\n---\n\n"),
      extracted_text = ps.map(_.extracted_text).filter(_.nonEmpty).mkString("\n\n"),
      cells_json = ps.map(p => "{\"page_no\": " + p.page_no + ", \"cells\": " +
        (if (p.cells_json.isEmpty) "null" else p.cells_json) + "}")
        .mkString("[", ", ", "]"),
      filtered = ps.exists(_.filtered),
      error = ps.map(_.error).filter(_.nonEmpty).mkString("; "))

  /** Map-side assembly. PRECONDITION: input urls are unique, so the
    * kernel emits each url's pages consecutively and in page order within
    * one partition. A duplicate input row would otherwise silently split
    * into two output rows or merge into one with doubled pages, so a
    * per-partition guard raises [[DuplicateUrlException]] when a url group
    * REOPENS (a seen-set over closed groups, ~1 MB per 12k-doc task) or
    * when `page_no` stops increasing inside a group (an adjacent duplicate
    * row). Cross-partition duplicates remain the caller's contract. Output
    * is column-identical to [[assemble]] (pinned by PipelineE2ESpec). */
  def assembleLocal(pages: Dataset[ParsedPage]): DataFrame = {
    import pages.sparkSession.implicits._
    val docs = pages.mapPartitions { (iter: Iterator[ParsedPage]) =>
      val in = iter.buffered
      val closed = new java.util.HashSet[String]()
      new Iterator[ParsedDoc] {
        def hasNext: Boolean = in.hasNext
        def next(): ParsedDoc = {
          val url = in.head.url
          if (!closed.add(url)) throw new DuplicateUrlException(url)
          val group = Vector.newBuilder[ParsedPage]
          var last = -1
          while (in.hasNext && in.head.url == url) {
            if (in.head.page_no <= last) throw new DuplicateUrlException(url)
            last = in.head.page_no
            group += in.next()
          }
          assembleDoc(url, group.result())
        }
      }
    }
    docs.toDF().select("url", "n_pages", "md", "md_nohf", "extracted_text",
      "cells_json", "filtered", "error")
  }

  /** Full pipeline: table → per-document extraction rows.
    *
    * Topologies (column-identical output on unique urls):
    *   - spreadPages=false (default): map-only plan, ZERO shuffles.
    *     Requires unique input urls (see [[assembleLocal]]).
    *   - spreadPages=true: page-spread shuffle + groupBy(url) assembly, for
    *     corpora with re-crawled duplicate urls (their pages regroup into
    *     one row per url) and for pathological per-doc page counts.
    *
    * The spread topology keeps the column-algebra [[assemble]] because it
    * measured cheaper there: routing it through `repartition(url)` +
    * `sortWithinPartitions` + [[assembleLocal]] instead read 0.508 →
    * 0.591 ms CPU per doc (+16%, worse in 5 of 5 alternating pairs) and
    * 3465 → 3316 docs/s on perfbench's pdf_spread workload (seed 11). */
  def run(
      input: DataFrame,
      mode: PromptMode = PromptMode.LayoutAll,
      spreadPages: Boolean = false,
      pageRange: Option[(Int, Int)] = None): DataFrame = {
    val parsed = parsePages(asPageDocs(input), mode, spreadPages, pageRange)
    if (spreadPages) assemble(parsed)
    else assembleLocal(parsed).withColumn("n_pages", col("n_pages").cast("long"))
  }

  /** Payload digest committed alongside each snapshot's extraction output —
    * the key that makes the next ingest incremental without re-reading the
    * previous snapshot's payload bytes. */
  def snapshotDigests(input: DataFrame): DataFrame =
    input.select(col("url"), xxhash64(col("html")).as("digest"))

  /** Commit a snapshot's digest AND extraction-output tables BUCKETED by
    * url: the next ingest's [[runIncremental]] over
    * `(spark.table(digestTable), spark.table(outputTable), current)` then
    * joins both persisted sides WITHOUT an exchange — only the current
    * snapshot shuffles, to the buckets' layout. At 100 TB the prior
    * output is the biggest relation in the incremental job; re-shuffling
    * it weekly is the cost bucketing exists to delete. Pinned by
    * BucketedJoinSpec (two fewer exchanges than unbucketed inputs,
    * identical output). */
  def commitSnapshotBucketed(input: DataFrame, output: DataFrame,
      digestTable: String, outputTable: String, buckets: Int = 32): Unit = {
    graft.ops.CatalogTables.overwriteBucketed(
      snapshotDigests(input), digestTable, buckets, Seq("url"))
    graft.ops.CatalogTables.overwriteBucketed(
      output, outputTable, buckets, Seq("url"))
  }

  /** Incremental re-extraction for a recurring crawl: given the PREVIOUS
    * snapshot's committed (url, payload-digest) table and its extraction
    * output, process the CURRENT snapshot by re-running the kernel only on
    * urls whose payload is new or changed and carrying the prior output
    * forward for unchanged urls. Deleted urls drop out naturally (they are
    * absent from `current`). Output = [[run]]'s schema + a `source` column
    * (`reused` | `extracted`).
    *
    * Correctness rests on extraction being a pure function of the payload
    * (digest equality ⇒ identical output; the q_incremental_extract oracle
    * replays exactly this equivalence from the dumped full-extraction
    * table) and on xxhash64 collision odds (2^-64 per pair — the same
    * hash-for-payload equivalence the dedup operators pin).
    *
    * Scale shape: the status join carries the current snapshot once and
    * 12 bytes/url of digest state — never two payload copies; the reuse
    * path is a semi join against a url-only set. Commit snapshots with
    * [[commitSnapshotBucketed]] and pass `spark.table(...)` here: the
    * persisted digest/output sides then join WITHOUT an exchange
    * (BucketedJoinSpec pins the plan); the kernel runs only over the
    * changed slice — on a weekly crawl that is typically a few percent of
    * 100 TB instead of all of it. */
  def runIncremental(
      priorDigests: DataFrame,
      priorOutput: DataFrame,
      current: DataFrame,
      mode: PromptMode = PromptMode.LayoutAll): DataFrame = {
    val prior = priorDigests.select(col("url"), col("digest").as("__prior"))
    val cur = current
      .withColumn("__digest", xxhash64(col("html")))
      .join(prior, Seq("url"), "left")
    val unchangedUrls = cur
      .filter(col("__prior").isNotNull && col("__prior") === col("__digest"))
      .select("url")
    val reused = priorOutput
      .join(unchangedUrls, Seq("url"), "left_semi")
      .withColumn("source", lit("reused"))
    val todo = cur
      .filter(col("__prior").isNull || col("__prior") =!= col("__digest"))
      .drop("__digest", "__prior")
    run(todo, mode).withColumn("source", lit("extracted"))
      .unionByName(reused)
  }

  /** Session defaults for this engine: AQE on (skew-join + coalesce),
    * shuffle partitions sized for the local harness (32 cores), broadcast
    * threshold left default. At cluster scale these become
    * spark.sql.shuffle.partitions=auto / advisory sizes. */
  def newSession(master: String, shufflePartitions: Int): SparkSession = {
    // JVM-global, set at the guaranteed-earliest point every driver path
    // passes through (the Raster/Codec object initializers also set it,
    // but e.g. InputGen's JPEG writes during bench input materialization
    // can run before either class loads): ImageIO's default scratch cache
    // stages every stream read/write through a temp FILE on disk.
    javax.imageio.ImageIO.setUseCache(false)
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // CPU-bound scans (the parse kernel runs map-side on scan splits)
      // want far smaller splits than the 128 MB I/O-oriented default:
      // several task waves per core self-balance stragglers. 16 MB of
      // payload ≈ 12k docs ≈ 10 s of kernel work per task.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed snapshot/index tables (commitSnapshotBucketed,
      // DedupOps.writeBandIndexBucketed) need a warehouse; keep it out of
      // the working directory. At cluster scale this is the real catalog.
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
  }
}
