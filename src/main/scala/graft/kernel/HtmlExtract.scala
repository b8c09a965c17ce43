package graft.kernel

import graft.core.Categories
import scala.collection.mutable

/** HTML branch: DOM → boilerplate-strip heuristics → layout cells.
  *
  * This replaces the reference's VLM forward pass for HTML payloads with a
  * deterministic classification kernel (north rule). The output contract is
  * the reference's cell schema and reading-order guarantee
  * (/root/reference/dots_ocr/utils/prompts.py:3-20): cells
  * `{bbox, category, text}` in document order, Formula text as LaTeX,
  * Table text as HTML, everything else Markdown, Picture with no text.
  *
  * Heuristics (fixed, deterministic — they define the HTML goldens):
  *   - `<header>`/`<nav>` containers → one Page-header cell each;
  *     `<footer>` → one Page-footer cell (reference analog: the categories
  *     that `filter_json_blocks` strips, mac/run_ocr_batch.py:80-88).
  *   - `<aside>` or any block with link-density > 0.5 and < 25 words →
  *     boilerplate, dropped (link-density scoring per the north rule).
  *   - first `<h1>` → Title, other h1-h6 → Section-header; `<li>` →
  *     List-item; `<table>` → Table (structural HTML text); `<img>` →
  *     Picture; `<figcaption>` → Caption; formula spans (class math/formula
  *     or `$$…$$` text) → Formula (LaTeX); `.footnote` → Footnote;
  *     p/blockquote/pre/div-leaf → Text.
  *   - Reading order = document order; bbox synthesized by a deterministic
  *     layout model (monotone y; 1280-px page, 40-px margins) so downstream
  *     bbox operators (rescale, grounding containment) are exercised.
  */
object HtmlExtract {

  final case class Block(category: String, text: Option[String], lines: Int)
  /** `raster` = the page's rendered image (PNG/JPEG bytes, at width×height)
    * when one exists — the crop source for Picture cells
    * (format_transformer.py:169-172). HTML pages have none (no rasterizer
    * in a DOM pipeline); PDF-lite v2 pages carry theirs through
    * [[PdfLite.pageToLayout]]; image payloads carry themselves.
    *
    * `renderDims` = the fitz-preprocessed render dims (image → 1-page PDF
    * at 72 dpi → pixmap at target dpi, parser.py:158-160 /
    * image_utils.py:170-196): when set, smart_resize derives the INPUT
    * dims from these instead of (width, height), while bboxes still
    * rescale back to the ORIGINAL (width, height) space — exactly the
    * reference's `fitz_preprocess=True` dataflow. */
  final case class PageLayout(width: Long, height: Long, cells: Vector[JObject],
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None,
      renderDims: Option[(Long, Long)] = None)

  val PageWidth = 1280L
  val Margin = 40L
  val LineHeight = 24L
  val BlockGap = 16L
  val CharsPerLine = 90

  private val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")
  private val ContainerTags = Set(
    "#root", "html", "body", "div", "section", "article", "main", "ul",
    "ol", "figure", "form", "span", "center", "details", "summary", "dl")

  def extract(htmlBytes: Array[Byte]): PageLayout =
    extractFromString(HtmlDom.decodeBytes(htmlBytes))

  def extractFromString(html: String): PageLayout =
    extractFromDom(HtmlDom.parse(html))

  /** Layout from an already-parsed DOM — the fused web-pipeline entry:
    * extraction, outlink/anchor harvest and robots directives can share
    * ONE `HtmlDom.parse` per payload instead of re-parsing per operator
    * (the DOM parse dominates per-page CPU at corpus scale). */
  def extractFromDom(root: HtmlDom.Element): PageLayout =
    layout(classify(root))

  /** Walk the DOM in document order, emitting classified blocks. */
  def classify(root: HtmlDom.Element): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    var sawH1 = false

    def emit(category: String, text: String): Unit = {
      val lines = math.max(1, math.ceil(text.length.toDouble / CharsPerLine).toInt)
      out += Block(category, Some(text), lines)
    }

    def classAttr(e: HtmlDom.Element): String = e.attrs.getOrElse("class", "")

    def isFormulaSpan(e: HtmlDom.Element): Boolean = {
      val cls = classAttr(e)
      e.tag == "math" || cls.contains("math") || cls.contains("formula")
    }

    def boilerplate(e: HtmlDom.Element, text: String): Boolean = {
      if (text.isEmpty) return true
      val linkChars = HtmlDom.linkTextChars(e)
      val density = linkChars.toDouble / math.max(1, text.length)
      if (density <= 0.5) return false // skip the word count when cheap test decides
      val words = text.split(" ").count(_.nonEmpty)
      words < 25
    }

    // stray text outside blocks is ignored; an element that is not a
    // block of its own is descended into (forgiving)
    def enter(e: HtmlDom.Element): Boolean = {
      e.tag match {
        case "head" | "script" | "style" | "template" | "noscript" | "title" => ()
        case "header" | "nav" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) emit(Categories.PageHeader, text)
        case "footer" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) emit(Categories.PageFooter, text)
        case "aside" => () // boilerplate rail: dropped
        case t if HeadingTags.contains(t) =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) {
            if (t == "h1" && !sawH1) { sawH1 = true; emit(Categories.Title, s"# $text") }
            else {
              val level = t.charAt(1) - '0'
              emit(Categories.SectionHeader, ("#" * level) + " " + text)
            }
          }
        case "li" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) {
            if (boilerplate(e, text)) () else emit(Categories.ListItem, s"- $text")
          }
        case "table" =>
          out += Block(Categories.Table, Some(serializeTable(e)), tableLines(e))
        case "img" =>
          out += Block(Categories.Picture, None, 8)
        case "figcaption" | "caption" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) emit(Categories.Caption, text)
        case "blockquote" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) emit(Categories.Text, s"> $text")
        case "pre" =>
          val raw = rawText(e)
          if (raw.nonEmpty) emit(Categories.Text, s"```\n$raw\n```")
        case "p" =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) {
            if (classAttr(e).contains("footnote")) emit(Categories.Footnote, text)
            else if (boilerplate(e, text)) ()
            else if (isDisplayFormula(text)) emit(Categories.Formula, text)
            else emit(Categories.Text, text)
          }
        case _ if isFormulaSpan(e) =>
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty) emit(Categories.Formula, text)
        case t if ContainerTags.contains(t) =>
          // leaf div with only inline content → Text cell; else descend
          if (t != "div" || hasBlockChild(e)) return true
          val text = HtmlDom.visibleText(e)
          if (text.nonEmpty && !boilerplate(e, text)) emit(Categories.Text, text)
        case _ => return true
      }
      false
    }
    HtmlDom.walk(root, enter)
    out.result()
  }

  private val BlockTags = Set(
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "table", "img", "figure",
    "blockquote", "pre", "header", "footer", "nav", "aside", "ul", "ol",
    "div", "section", "article", "main")

  private def hasBlockChild(e: HtmlDom.Element): Boolean = {
    var found = false
    // once one is found, enter no further element
    HtmlDom.walk(e, c => { found ||= (c ne e) && BlockTags.contains(c.tag); !found })
    found
  }

  private def isDisplayFormula(text: String): Boolean =
    text.startsWith("$$") && text.endsWith("$$") && text.length > 4

  private def rawText(e: HtmlDom.Element): String = {
    val sb = new java.lang.StringBuilder
    HtmlDom.walk(e, _ => true, t => sb.append(HtmlDom.decodeEntities(t)))
    sb.toString.trim
  }

  /** Structural HTML serialization of a table: structure tags only
    * (table/thead/tbody/tr/th/td), attributes dropped, cell text normalized
    * — the "Table: HTML" contract of prompts.py:12. */
  def serializeTable(e: HtmlDom.Element): String = {
    val keep = Set("table", "thead", "tbody", "tfoot", "tr", "th", "td")
    val sb = new java.lang.StringBuilder
    HtmlDom.walk(e, el => {
      if (keep.contains(el.tag)) sb.append(s"<${el.tag}>")
      val cell = el.tag == "td" || el.tag == "th"
      if (cell) sb.append(HtmlDom.visibleText(el))
      !cell
    }, leave = el => if (keep.contains(el.tag)) sb.append(s"</${el.tag}>"))
    sb.toString
  }

  private def tableLines(e: HtmlDom.Element): Int = {
    var rows = 0
    HtmlDom.walk(e, el => { if (el.tag == "tr") rows += 1; true })
    math.max(2, rows + 1)
  }

  /** Deterministic layout model: monotone y in reading order. */
  def layout(blocks: Vector[Block]): PageLayout = {
    var y = Margin
    val cells = Vector.newBuilder[JObject]
    blocks.foreach { b =>
      val h = b.lines * LineHeight
      val (x1, x2) = b.category match {
        case Categories.ListItem => (Margin + 20, PageWidth - Margin)
        case Categories.Picture  => (Margin + 100, PageWidth - Margin - 100)
        case _                   => (Margin, PageWidth - Margin)
      }
      val bbox = "bbox" -> JArray(Vector(JInt(x1), JInt(y), JInt(x2), JInt(y + h)))
      val category = "category" -> JString(b.category)
      cells += JObject(b.text match {
        case Some(t) => Vector(bbox, category, "text" -> JString(t))
        case None    => Vector(bbox, category)
      })
      y += h + BlockGap
    }
    val height = math.max(Margin * 2 + LineHeight, y - BlockGap + Margin)
    PageLayout(PageWidth, height, cells.result())
  }
}
