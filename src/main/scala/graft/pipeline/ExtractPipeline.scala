package graft.pipeline

import graft.core._
import graft.kernel.ExtractKernel
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The Spark-native extraction pipeline (SURVEY.md §3.1 translation).
  * One topology per input contract; both run the same kernel stage and
  * the same assembler, and on unique urls they give the same rows.
  *
  * Unique input urls (the default, `spreadPages = false`): map-only, ZERO
  * shuffles.
  * {{{
  * inputTable → mapPartitions(ExtractKernel.parseDoc)  // dispatch + parse, in the scan task
  *            → mapPartitions(assembleLocal)           // a url's pages are consecutive
  * }}}
  *
  * Duplicate urls (re-crawls, `spreadPages = true`): one document shuffle,
  * then the same two stages.
  * {{{
  * inputTable → repartition(n, url) + sortWithinPartitions(url)  // a url's rows meet, adjacent
  *            → mapPartitions(ExtractKernel.parseDoc)
  *            → mapPartitions(assembleLocal)  // a duplicate url's pages sort in sort_array order
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
  *   - the spread shuffle moves whole documents, not pages. The reference
  *     spreads one document's pages over a thread pool (parser.py:262-289)
  *     because each page is a model call lasting seconds; here a PDF page
  *     parses in ~40 µs, so a page fan-out (serialize every PDF page,
  *     shuffle it, re-parse it, regroup it in an aggregate) cost more than
  *     the parse. The trade-off: a 10,000-page PDF parses in one task,
  *     ~0.4 s, less than one 16 MB scan split's work; a per-document page
  *     budget, not a page shuffle, is what bounds that case.
  */
object ExtractPipeline {

  implicit val pageDocEnc: Encoder[PageDoc] = Encoders.product[PageDoc]
  implicit val parsedPageEnc: Encoder[ParsedPage] = Encoders.product[ParsedPage]

  /** The input columns the kernel reads. [[asPageDocs]] selects them, and
    * SnapshotRunner's bucketed input copy carries only them. */
  val kernelColumns: Seq[String] = Seq("url", "html", "lang")

  /** Adapt the (url, warc_ts, html, text, lang) table; keep this AFTER any
    * relational filters so pushdown stays intact. The kernel consumes only
    * [[kernelColumns]], so warc_ts/text are replaced by literals — the
    * parquet scan then PRUNES those columns (`text` is a full pre-extracted
    * text copy per row; decoding it would roughly double scan bytes and
    * per-row String allocation for nothing). Pinned by PlanSpec. */
  def asPageDocs(df: DataFrame): Dataset[PageDoc] =
    df.select(kernelColumns.map(col) ++ Seq(
      lit(null).cast("timestamp").as("warc_ts"), lit("").as("text")): _*).as[PageDoc]

  /** Parse documents into pages, each document's pages consecutive and in
    * page order. (Lineage metrics are computed relationally from the
    * output — graft.scale.Lineage — not collected here: a task-side
    * channel double-counts under retries and funnels through driver
    * memory.) With `spreadPages`, documents first move to `n` url-hashed
    * tasks, sorted by url so that a url's rows are adjacent. `n` is
    * derived, not AQE-coalesced: kernel cost is per-page CPU, not bytes,
    * so byte-based coalescing must not shrink this stage. */
  def parsePages(
      docs: Dataset[PageDoc],
      mode: PromptMode = PromptMode.LayoutAll,
      spreadPages: Boolean = false,
      pageRange: Option[(Int, Int)] = None): Dataset[ParsedPage] = {
    val (rangeStart, rangeEnd) = pageRange.getOrElse((0, -1))
    val placed = if (!spreadPages) docs else {
      val n = math.max(docs.sparkSession.sparkContext.defaultParallelism * 2, 8)
      docs.repartition(n, col("url")).sortWithinPartitions("url")
    }
    placed.mapPartitions(_.flatMap(d => ExtractKernel.parseDoc(d, mode, rangeStart, rangeEnd)))
  }

  /** Raised task-side when [[assembleLocal]]'s unique-url precondition is
    * violated: the silent failure mode (split or merged output rows per
    * url) is converted into a typed job failure naming the route to take
    * instead. */
  final class DuplicateUrlException(url: String) extends IllegalStateException(
    s"assembleLocal: url '$url' appears in more than one input row of this partition; " +
      "the map-side assembly path requires unique input urls — re-run with spreadPages = true")

  /** One document's pages, in page order → the assembled per-doc record:
    * page_no-ordered md join with `\n\n---\n\n` (reference
    * combine_markdown_files), cells concatenated across pages in page order
    * (demo_gradio.py:264-267). Shared verbatim by both topologies and the
    * fused [[WebPipeline]], so the paths can never diverge column-wise. */
  private[pipeline] def assembleDoc(url: String, ps: Vector[ParsedPage]): ParsedDoc = {
    val cells = new java.lang.StringBuilder(ps.foldLeft(2)(_ + _.cells_json.length + 32))
    cells.append('[')
    ps.foreach { p =>
      if (cells.length > 1) cells.append(", ")
      cells.append("{\"page_no\": ").append(p.page_no).append(", \"cells\": ")
        .append(if (p.cells_json.isEmpty) "null" else p.cells_json).append('}')
    }
    cells.append(']')
    // a single page's strings are the document's, as the joins would give
    def join(part: ParsedPage => String, sep: String, skipEmpty: Boolean): String =
      if (ps.length == 1) part(ps.head)
      else {
        val sb = new java.lang.StringBuilder(ps.foldLeft(0)(_ + part(_).length + sep.length))
        var first = true
        ps.foreach { p =>
          val s = part(p)
          if (!(skipEmpty && s.isEmpty)) {
            if (!first) sb.append(sep)
            sb.append(s)
            first = false
          }
        }
        sb.toString
      }
    ParsedDoc(
      url = url,
      lang = "",
      n_pages = ps.length,
      md = join(_.md, "\n\n---\n\n", skipEmpty = false),
      md_nohf = join(_.md_nohf, "\n\n---\n\n", skipEmpty = false),
      extracted_text = join(_.extracted_text, "\n\n", skipEmpty = true),
      cells_json = cells.toString,
      filtered = ps.exists(_.filtered),
      error = join(_.error, "; ", skipEmpty = true))
  }

  /** The order Spark's `sort_array` gives a url's page structs: page_no,
    * then md, md_nohf, extracted_text, cells_json as unsigned UTF-8 bytes,
    * then filtered, then error. The spread topology puts a duplicate url's
    * pages in this order, so its row does not depend on which copy the
    * shuffle delivered first. */
  private val pageStructOrder: Ordering[ParsedPage] = {
    val utf8: Ordering[String] = (a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
    Ordering.by((p: ParsedPage) =>
      (p.page_no, p.md, p.md_nohf, p.extracted_text, p.cells_json, p.filtered, p.error))(
      Ordering.Tuple7(Ordering.Int, utf8, utf8, utf8, utf8, Ordering.Boolean, utf8))
  }

  /** Map-side assembly. PRECONDITION: input urls are unique, so the
    * kernel emits each url's pages consecutively and in page order within
    * one partition. A duplicate input row would otherwise silently split
    * into two output rows or merge into one with doubled pages, so a
    * per-partition guard raises [[DuplicateUrlException]] when a url group
    * REOPENS (a seen-set over closed groups, ~1 MB per 12k-doc task) or
    * when `page_no` stops increasing inside a group (an adjacent duplicate
    * row). Cross-partition duplicates remain the caller's contract. Output
    * is column-identical to the spread topology's (pinned by
    * PipelineE2ESpec). */
  def assembleLocal(pages: Dataset[ParsedPage]): DataFrame = assembleGroups(pages, spread = false)

  /** [[assembleLocal]]'s grouping loop. On the spread topology a url's
    * copies are adjacent, so where the default path raises
    * [[DuplicateUrlException]] for a `page_no` that stops increasing, this
    * sorts that one group in [[pageStructOrder]] and emits one row. */
  private def assembleGroups(pages: Dataset[ParsedPage], spread: Boolean): DataFrame = {
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
          var ordered = true
          while (in.hasNext && in.head.url == url) {
            if (in.head.page_no <= last) {
              if (!spread) throw new DuplicateUrlException(url)
              ordered = false
            }
            last = in.head.page_no
            group += in.next()
          }
          val ps = group.result()
          assembleDoc(url, if (ordered) ps else ps.sorted(pageStructOrder))
        }
      }
    }
    docs.toDF().select("url", "n_pages", "md", "md_nohf", "extracted_text",
      "cells_json", "filtered", "error")
  }

  /** Full pipeline: table → per-document extraction rows.
    *
    * Topologies (column- and schema-identical output on unique urls):
    *   - spreadPages=false (default): map-only plan, ZERO shuffles.
    *     Requires unique input urls (see [[assembleLocal]]).
    *   - spreadPages=true: one document shuffle on url, then the same
    *     kernel stage and assembler, for corpora with re-crawled duplicate
    *     urls (their pages regroup into one row per url).
    *
    * The spread topology shuffles documents, not pages: against a page
    * fan-out on (url, page_no) regrouped by a `sort_array(collect_list)`
    * aggregate, it read median `cpu_ms_per_doc` 0.374 → 0.301 (−20%, better
    * in 10 of 10 alternating pairs) and `docs_per_s` 5218 → 6365 on
    * perfbench's pdf_spread workload (seed 11, 4-core box, JDK 17), with
    * shuffle bytes per doc 4381 → 1595. */
  def run(
      input: DataFrame,
      mode: PromptMode = PromptMode.LayoutAll,
      spreadPages: Boolean = false,
      pageRange: Option[(Int, Int)] = None): DataFrame =
    assembleGroups(parsePages(asPageDocs(input), mode, spreadPages, pageRange), spreadPages)
      .withColumn("n_pages", col("n_pages").cast("long"))

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
