package graft.pipeline

import graft.core._
import graft.kernel.ExtractKernel
import graft.ops.LinkOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The FUSED web-corpus pass: one kernel traversal per payload emitting
  * extraction output AND the web-graph artifacts (outlinks, anchor texts,
  * robots directives) together.
  *
  * Why it exists: a composed corpus job built from the per-op entry
  * points parses each HTML payload up to 3× — `ExtractPipeline.run` (DOM
  * → layout), `LinkOps.extractLinks`/`extractAnchors` (DOM → edges), and
  * `LinkOps.filterNoindex` (DOM → robots metas). Each op alone is the
  * plan you want (map-only, oracled), but the DOM parse dominates
  * per-page CPU, so the composition pays ~3× kernel cost at 100 TB. The
  * reference makes one pass per page (parser.py:140-250); this is the
  * Spark-shaped equivalent: `HtmlDom.parse` runs ONCE, inside the
  * kernel's per-page tail (extraction), and the same DOM feeds
  * [[LinkOps.artifactsOfDom]] (links+anchors+robots, themselves a single
  * walk) — see q_web_pipeline vs q_web_pipeline_separate in the bench.
  *
  * Equivalence contract (pinned by WebPipelineSpec and the q_web_pipeline
  * oracle, which reassembles the SEPARATE passes' dumped tables):
  *   - extraction columns ≡ `ExtractPipeline.run(input, mode)`
  *   - links            ≡ `LinkOps.extractLinks(input)` grouped by src
  *   - anchors          ≡ `LinkOps.extractAnchors(input)` grouped by src
  *   - robots           ≡ `LinkOps.metaRobots(payload)`
  *
  * Scale shape: map-only, ZERO shuffles — scan splits → mapPartitions
  * kernel → one output row per document (callers explode links/anchors
  * relationally when they need the edge tables; the per-doc arrays are
  * bounded by page size, the same payload-bound as the md column). Column
  * pruning: only (url, html, lang) reach the scan, like ExtractPipeline.
  * Unique-urls contract: one input row → one output row (a re-crawled
  * corpus consolidates via LinkOps.latestVersionPerUrl first). */
object WebPipeline {

  /** (dst, anchor-text) edge carried per document. */
  final case class AnchorText(dst: String, anchor: String)

  /** One document's fused output row. */
  final case class WebDoc(
      url: String, n_pages: Long, md: String, md_nohf: String,
      extracted_text: String, cells_json: String, filtered: Boolean,
      error: String, links: Seq[String], anchors: Seq[AnchorText],
      robots: Seq[String])

  implicit val webDocEnc: org.apache.spark.sql.Encoder[WebDoc] =
    org.apache.spark.sql.Encoders.product[WebDoc]

  /** Fused parse of one document: the kernel's dispatcher and per-page
    * tail, with the HTML page's DOM also feeding the link/anchor/robots
    * harvest. Non-HTML payloads (PDF, image, garbled, empty) carry no web
    * artifacts, which is what outlinksOf/anchorsOf/metaRobots return for
    * them (Nil). Never throws. */
  def parseFused(doc: PageDoc, mode: PromptMode): WebDoc = {
    val pages = ExtractKernel.pagesOf(doc, 0, -1)
    val rows = ExtractKernel.parseAll(doc.url, pages, mode)
    val (anchors, robots) = pages match {
      // a page whose DOM build or extraction failed is an error row and
      // carries no artifacts; a harvest that throws yields none, as it does
      // in anchorsOf/metaRobots
      case Vector(h: ExtractKernel.Html) if rows.head.error.isEmpty =>
        try LinkOps.artifactsOfDom(doc.url, h.dom)
        catch { case NonFatal(_) => NoArtifacts }
      case _ => NoArtifacts
    }
    val pd = ExtractPipeline.assembleDoc(doc.url, rows)
    WebDoc(pd.url, pd.n_pages.toLong, pd.md, pd.md_nohf, pd.extracted_text,
      pd.cells_json, pd.filtered, pd.error,
      links = anchors.map(_._1),
      anchors = anchors.map { case (d, a) => AnchorText(d, a) },
      robots = robots)
  }

  private val NoArtifacts = (Vector.empty[(String, String)], Vector.empty[String])

  /** Full fused pipeline: north-rule table → one row per document with
    * extraction output + links + anchors + robots. Map-only, no shuffle. */
  def run(input: DataFrame, mode: PromptMode = PromptMode.LayoutAll): DataFrame = {
    val docs = ExtractPipeline.asPageDocs(input)
    docs.mapPartitions(_.map(d => parseFused(d, mode))).toDF()
  }

  /** The separate-pass foil for the bench: the SAME output computed by
    * composing the per-op entry points (3 DOM parses per HTML payload) —
    * extraction run + link extraction + anchor extraction + a robots
    * pass. Exists to measure what the fusion saves; not part of the
    * library surface a user would compose (they'd call [[run]]). */
  def runSeparate(input: DataFrame, promptMode: PromptMode = PromptMode.LayoutAll): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = input.sparkSession
    import spark.implicits._
    val ext = ExtractPipeline.run(input, promptMode)
    val links = LinkOps.extractLinks(input)
      .groupBy(col("src").as("url"))
      .agg(collect_list(col("dst")).as("links"))
    val anchors = LinkOps.extractAnchors(input)
      .groupBy(col("src").as("url"))
      .agg(collect_list(struct(col("dst"), col("anchor"))).as("anchors"))
    val robots = ExtractPipeline.asPageDocs(input)
      .map(d => (d.url, LinkOps.metaRobots(d.html)))
      .toDF("url", "robots")
    ext.join(links, Seq("url"), "left").join(anchors, Seq("url"), "left")
      .join(robots, Seq("url"), "left")
      .withColumn("links", coalesce(col("links"), array()))
      .withColumn("anchors", coalesce(col("anchors"),
        array().cast("array<struct<dst:string,anchor:string>>")))
      .withColumn("robots", coalesce(col("robots"), array()))
  }
}
