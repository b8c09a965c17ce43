package graft.kernel

import java.util.regex.Pattern
import BboxScale.{kernelError, pyIntOf}

/** Markdown linearization of layout cells, semantics-identical to
  * /root/reference/dots_ocr/utils/format_transformer.py.
  *
  * Category contract (prompts.py:7-13): Formula text is LaTeX, Table text is
  * HTML (passed through), everything else Markdown; Picture has no text and
  * embeds a crop data-URI: a real PNG crop of the page raster when the page
  * carries one ([[Raster]]), else a deterministic placeholder URI (pages
  * without a raster — every HTML page — have nothing to crop).
  */
object MdRender {

  val PageHf: Set[String] = Set("Page-header", "Page-footer")

  // has_latex_markdown probes (format_transformer.py:24-32), all DOTALL.
  private val latexPatterns: Seq[Pattern] = Seq(
    "\\$\\$.*?\\$\\$",
    "\\$[^$\\n]+?\\$",
    "\\\\begin\\{.*?\\}.*?\\\\end\\{.*?\\}",
    "\\\\[a-zA-Z]+\\{.*?\\}",
    "\\\\[a-zA-Z]+",
    "\\\\\\[.*?\\\\\\]",
    "\\\\\\(.*?\\\\\\)"
  ).map(p => Pattern.compile(p, Pattern.DOTALL))

  def hasLatexMarkdown(text: String): Boolean =
    latexPatterns.exists(_.matcher(text).find())

  // clean_latex_preamble (format_transformer.py:42-66), IGNORECASE.
  private val preamblePatterns: Seq[Pattern] = Seq(
    "\\\\documentclass\\{[^}]+\\}",
    "\\\\usepackage\\{[^}]+\\}",
    "\\\\usepackage\\[[^\\]]*\\]\\{[^}]+\\}",
    "\\\\begin\\{document\\}",
    "\\\\end\\{document\\}"
  ).map(p => Pattern.compile(p, Pattern.CASE_INSENSITIVE))

  def cleanLatexPreamble(latex: String): String =
    preamblePatterns.foldLeft(latex)((t, p) => p.matcher(t).replaceAll(""))

  private val bracketDisplayPattern = Pattern.compile(".*\\\\\\[.*\\\\\\].*")
  private val inlineDollarPattern = Pattern.compile("\\$([^$]+)\\$")

  /** Python slice `s[from:len-trim]`, empty when the range inverts. */
  private def pySliceTrim(s: String, from: Int, trim: Int): String = {
    val to = s.length - trim
    if (to <= from) "" else s.substring(from, to)
  }

  /** get_formula_in_markdown (format_transformer.py:69-119): six ordered
    * cases normalizing formula text into a `$$\n…\n$$` block. */
  def formulaInMarkdown(text0: String): String = {
    val text = PyStr.strip(text0)
    if (text.startsWith("$$") && text.endsWith("$$")) {
      val inner = PyStr.strip(pySliceTrim(text, 2, 2))
      return if (!inner.contains('$')) s"$$$$\n$inner\n$$$$" else text
    }
    if (text.startsWith("\\[") && text.endsWith("\\]")) {
      val inner = PyStr.strip(pySliceTrim(text, 2, 2))
      return s"$$$$\n$inner\n$$$$"
    }
    if (bracketDisplayPattern.matcher(text).find()) return text
    if (inlineDollarPattern.matcher(text).find()) return text
    if (!hasLatexMarkdown(text)) return text
    var t = if (text.contains("usepackage")) cleanLatexPreamble(text) else text
    if (t.isEmpty) kernelError("string index out of range") // Python text[0] IndexError
    if (t.charAt(0) == '`' && t.charAt(t.length - 1) == '`')
      t = pySliceTrim(t, 1, 1)
    s"$$$$\n$t\n$$$$"
  }

  /** clean_text (format_transformer.py:122-142): strip + unwrap `` `$…$` ``.
    * Note: despite its docstring it does NOT collapse inner whitespace. */
  def cleanText(text0: String): String = {
    if (text0 == null || text0.isEmpty) return ""
    val text = PyStr.strip(text0)
    if (text.length >= 2 && text.startsWith("`$") && text.endsWith("$`"))
      pySliceTrim(text, 1, 1)
    else text
  }

  /** CPython truthiness over JSON-shaped values. */
  private def pyFalsy(v: JValue): Boolean = v match {
    case JNull         => true
    case JBool(b)      => !b
    case JInt(i)       => i == 0
    case JDouble(d)    => d == 0.0
    case JString(s)    => s.isEmpty
    case JArray(a)     => a.isEmpty
    case JObject(f)    => f.isEmpty
  }

  /** Deterministic stand-in for the reference's base64 PNG crop embed
    * (format_transformer.py:169-172) on pages that carry no raster, and
    * on rasters neither decode path can read. */
  def picturePlaceholder(x1: BigInt, y1: BigInt, x2: BigInt, y2: BigInt): String = {
    val payload = s"crop:$x1,$y1,$x2,$y2"
    val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes("UTF-8"))
    s"data:image/png;base64,$b64"
  }

  /** The Picture-cell embeds of one page (format_transformer.py:169-172).
    * The page raster is decoded at most once, and only if a Picture cell
    * actually renders: pages without Picture cells never pay the decode.
    * `decodePage` is the direct-path page decode; tests pass a counting
    * wrapper to pin the at-most-once decode. */
  private[kernel] final class PictureUris(raster: Option[scala.collection.immutable.ArraySeq[Byte]],
      decodePage: Array[Byte] => Option[Raster.RgbRows] = Raster.decodeRgb) {
    private lazy val rasterBytes: Option[Array[Byte]] = raster.map(_.toArray)
    private lazy val rasterHeader: Option[(Int, Int, Boolean)] =
      rasterBytes.flatMap(b => try Raster.headerInfo(b) catch { case _: Exception => None })
    // direct PNG crop path first; the ImageIO decode below runs only for
    // rasters (or boxes) the direct path declines
    private lazy val pageRows: Option[Raster.RgbRows] = rasterBytes.flatMap(decodePage)
    private lazy val pageImg: Option[java.awt.image.BufferedImage] =
      rasterBytes.flatMap { b =>
        try Some(Raster.decode(b)) catch { case _: Exception => None }
      }
    private def rasterMime(b: Array[Byte]): String =
      if ((b(0) & 0xff) == 0x89) "image/png" else "image/jpeg"

    /** The data URI of the crop `(x1, y1, x2, y2)`. A raster-backed page
      * gets a real crop as a base64 PNG embed, the reference's
      * image.crop + PILimage_to_base64; raster-less pages (all HTML — a
      * DOM pipeline has no rasterizer) keep the deterministic placeholder
      * URI, same data: scheme.
      *
      * FULL-BLEED fast path: a crop of exactly [0,0,w,h] over an
      * alpha-free raster has decoded pixels identical to the source
      * image, so the source bytes embed directly (correct mime) with NO
      * decode/re-encode — the container differs from the reference's
      * always-PNG re-encode (documented deviation; the decoded-pixel
      * contract is what the golden spec pins). Partial crops and
      * alpha-capable sources take the decode+crop path. */
    def uri(x1: BigInt, y1: BigInt, x2: BigInt, y2: BigInt): String = {
      val fullBleed = rasterHeader.exists { case (w, h, opaque) =>
        opaque && x1 == 0 && y1 == 0 && x2 == BigInt(w) && y2 == BigInt(h)
      }
      if (fullBleed) {
        val b = rasterBytes.get
        s"data:${rasterMime(b)};base64," + java.util.Base64.getEncoder.encodeToString(b)
      } else pageRows.flatMap(_.cropDataUri(x1.toInt, y1.toInt, x2.toInt, y2.toInt))
        .getOrElse(pageImg match {
          case Some(img) =>
            try Raster.pngDataUri(Raster.pilCrop(img, x1.toInt, y1.toInt, x2.toInt, y2.toInt))
            catch { case _: Exception => picturePlaceholder(x1, y1, x2, y2) }
          case None => picturePlaceholder(x1, y1, x2, y2)
        })
    }
  }

  /** Render every cell once; both md variants derive from the segments
    * (`md` = all joined, `md_nohf` = non-header/footer joined) — halves the
    * render work vs calling [[layoutJsonToMd]] twice, byte-identically
    * (the per-cell rendering is independent of the noPageHf flag). */
  def renderSegments(cells: Vector[JValue], textKey: String = "text",
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None): Vector[(String, String)] = {
    layoutJsonToMdImpl(cells, textKey, noPageHf = false, raster)
  }

  def segmentsToMd(segments: Vector[(String, String)], noPageHf: Boolean): String = {
    val kept = if (noPageHf) segments.filter(s => !PageHf.contains(s._1)) else segments
    kept.map(_._2).mkString("\n\n")
  }

  /** layoutjson2md (format_transformer.py:145-180). Raises [[BboxScale.KernelError]]
    * exactly where the reference's Python would raise. */
  def layoutJsonToMd(cells: Vector[JValue], textKey: String = "text", noPageHf: Boolean = false,
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None): String =
    // noPageHf skips hf cells BEFORE rendering them (the reference's
    // order), so the flag goes to the renderer, not to segmentsToMd
    segmentsToMd(layoutJsonToMdImpl(cells, textKey, noPageHf, raster), noPageHf = false)

  /** `decodePage`: see [[PictureUris]]. */
  private[kernel] def layoutJsonToMdImpl(cells: Vector[JValue], textKey: String, noPageHf: Boolean,
      raster: Option[scala.collection.immutable.ArraySeq[Byte]],
      decodePage: Array[Byte] => Option[Raster.RgbRows] = Raster.decodeRgb): Vector[(String, String)] = {
    val pictures = new PictureUris(raster, decodePage)
    val items = Vector.newBuilder[(String, String)]
    cells.foreach { cellV =>
      val cell = cellV match {
        case o: JObject => o
        case other      => kernelError(s"cell is not a dict: '${PyJson.pyTypeName(other)}'")
      }
      val bbox = cell.get("bbox").getOrElse(kernelError("KeyError: 'bbox'"))
      val coords = bbox match {
        case JArray(a) => a.map(pyIntOf)
        case _         => kernelError("bbox is not iterable")
      }
      if (coords.length != 4) kernelError(s"cannot unpack bbox of length ${coords.length}")
      val Vector(x1, y1, x2, y2) = coords
      val text = cell.get(textKey).getOrElse(JString(""))
      val category = cell.get("category").getOrElse(kernelError("KeyError: 'category'"))
      val categoryStr = category match {
        case JString(s) => s
        case _          => "" // non-str category never equals the probed labels
      }
      val skip = noPageHf && PageHf.contains(categoryStr)
      if (!skip) {
        if (categoryStr == "Picture") {
          items += ((categoryStr, s"![](${pictures.uri(x1, y1, x2, y2)})"))
        } else if (categoryStr == "Formula") {
          text match {
            case JString(s) => items += ((categoryStr, formulaInMarkdown(s)))
            case other if pyFalsy(other) && other == JNull =>
              kernelError("'NoneType' object has no attribute 'strip'")
            case other =>
              kernelError(s"formula text is not a str: '${PyJson.pyTypeName(other)}'")
          }
        } else {
          text match {
            case JString(s)               => items += ((categoryStr, cleanText(s)))
            case other if pyFalsy(other)  => items += ((categoryStr, "")) // clean_text(falsy) → ""
            case other                    => kernelError(s"text is not a str: '${PyJson.pyTypeName(other)}'")
          }
        }
      }
    }
    items.result()
  }

  /** Multi-page combine: sort by page_no, join with `\n\n---\n\n`
    * (/root/reference/parse_pdf_to_markdown.py:19-31, parser.py:289). */
  def combinePages(pages: Seq[(Int, String)]): String =
    pages.sortBy(_._1).map(_._2).mkString("\n\n---\n\n")

  /** P16 `fix_streamlit_formulas` (/root/reference/dots_ocr/utils/
    * format_transformer.py:183-206): ensure a newline after the opening
    * `$$` and before the closing `$$` of every (DOTALL, non-greedy)
    * formula block. Golden-tested against the reference function. */
  private val StreamlitFormulaRe =
    java.util.regex.Pattern.compile("\\$\\$(.*?)\\$\\$", java.util.regex.Pattern.DOTALL)

  def fixStreamlitFormulas(md: String): String = {
    val m = StreamlitFormulaRe.matcher(md)
    val sb = new StringBuffer
    while (m.find()) {
      var content = m.group(1)
      if (content.startsWith("\n")) content = content.substring(1)
      if (content.endsWith("\n")) content = content.substring(0, content.length - 1)
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement("$$\n" + content + "\n$$"))
    }
    m.appendTail(sb)
    sb.toString
  }
}
