package graft.core

/** Core data model (SURVEY.md §1.1).
  *
  * The central record is the layout cell `{bbox, category, text}` — the
  * same shape the reference's prompt contract defines
  * (/root/reference/dots_ocr/utils/prompts.py:3-20): 11 categories, text
  * formatted as LaTeX for Formula, HTML for Table, Markdown otherwise,
  * omitted for Picture; cells listed in human reading order.
  */
object Categories {
  val Caption = "Caption"
  val Footnote = "Footnote"
  val Formula = "Formula"
  val ListItem = "List-item"
  val PageFooter = "Page-footer"
  val PageHeader = "Page-header"
  val Picture = "Picture"
  val SectionHeader = "Section-header"
  val Table = "Table"
  val Text = "Text"
  val Title = "Title"

  /** Closed vocabulary in the order of prompts.py:7 — index = PDF-lite
    * category code. */
  val All: Vector[String] = Vector(
    Caption, Footnote, Formula, ListItem, PageFooter, PageHeader,
    Picture, SectionHeader, Table, Text, Title)

  val byCode: Map[Int, String] = All.zipWithIndex.map(_.swap).toMap
  val toCode: Map[String, Int] = All.zipWithIndex.toMap
}

/** Pipeline task selector, mirroring the four prompt modes
  * (/root/reference/dots_ocr/utils/prompts.py:1-34). */
sealed trait PromptMode { def name: String }
object PromptMode {
  /** bbox + category + text (flagship). */
  case object LayoutAll extends PromptMode { val name = "prompt_layout_all_en" }
  /** bbox + category only — no text/markdown output (parser.py:222). */
  case object LayoutOnly extends PromptMode { val name = "prompt_layout_only_en" }
  /** plain text only — response passes through untouched (layout_utils.py:203). */
  case object Ocr extends PromptMode { val name = "prompt_ocr" }
  /** text restricted to one query bbox (parser.py:130-137). */
  final case class GroundingOcr(bbox: (Long, Long, Long, Long)) extends PromptMode {
    val name = "prompt_grounding_ocr"
  }
  def fromName(s: String): PromptMode = s match {
    case "prompt_layout_all_en"  => LayoutAll
    case "prompt_layout_only_en" => LayoutOnly
    case "prompt_ocr"            => Ocr
    case other                   => throw new IllegalArgumentException(s"unknown prompt mode $other")
  }
}

/** One input row of the north-rule table:
  * `(url, warc_ts, html:binary, text, lang)`. */
final case class PageDoc(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One physical page fanned out of a document payload. */
final case class RawPage(
    url: String,
    page_no: Int,
    total_pages: Int,
    payload_kind: String, // "html" | "pdf" | "image" | "garbled" | "error"
    page_bytes: Array[Byte],
    lang: String)

/** Per-page parse result — the Spark analog of the reference's result dict
  * (/root/reference/dots_ocr/parser.py:169-250) with content inlined
  * instead of side files. */
final case class ParsedPage(
    url: String,
    page_no: Int,
    input_height: Int,
    input_width: Int,
    origin_height: Int,
    origin_width: Int,
    cells_json: String, // json.dumps(cells, ensure_ascii=False) byte-equal artifact
    md: String,
    md_nohf: String,
    extracted_text: String,
    filtered: Boolean,
    error: String) // empty when ok; reference writes page_NNN_error.txt instead

/** One join-eligible cell of a grounding-mode page, dumped for the DuckDB
  * oracle: the kernel computes the input-space center (cx, cy) and the
  * pre-processed query bbox (qx1..qy2) — smart_resize math DuckDB cannot
  * replay — and DuckDB independently replays the center-containment
  * filter + ordered text join (reference: parser.py:130-137). `ord` = -1
  * marks the per-page anchor row (keeps zero-hit pages in the group). */
final case class GroundingCellRow(
    url: String,
    page_no: Int,
    ord: Int,
    text: String,
    cx: Double,
    cy: Double,
    qx1: Long,
    qy1: Long,
    qx2: Long,
    qy2: Long)

/** Assembled per-document output row. */
final case class ParsedDoc(
    url: String,
    lang: String,
    n_pages: Int,
    md: String,
    md_nohf: String,
    extracted_text: String,
    cells_json: String,
    filtered: Boolean,
    error: String)
