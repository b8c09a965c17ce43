package graft.kernel

import graft.core._
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** Per-page extraction kernel — the deterministic stand-in for the
  * reference's model call, wrapped in the reference's exact pre/post flow
  * (/root/reference/dots_ocr/parser.py:140-250):
  *
  *   payload → pages ([[pagesOf]]: PDF | image | HTML-DOM | raw-response)
  *           → per page ([[parse]], one catch site):
  *             smart_resize input dims (parser.py:163)
  *           → "model response" = classifier cells serialized in INPUT space
  *           → post_process_output (strict parse + rescale | repair chain)
  *           → layoutjson2md ×2 (md, md_nohf; parser.py:223-224)
  *           → per-page result record, or an error row
  *
  * Every entry point is built on that one dispatcher and that one tail:
  * [[parseDoc]] parses a document in place (both pipeline topologies run
  * it), [[fanOut]] + [[parsePage]] take one page at a time as a
  * self-contained [[RawPage]] (for specs and the per-layer tracer), and
  * the fused web pass reuses the HTML page's DOM.
  *
  * Everything after the response string is byte-identical to the reference
  * (golden-tested); the classifier branch defines the response contents.
  * Designed to run inside `mapPartitions` — stateless, allocation-light.
  *
  * Two tails share that contract. The reference-faithful one runs over
  * JSON values, function for function as the reference does:
  * [[classifierCells]] / [[classifierResponse]], `BboxScale.postProcessCells`,
  * `PyJson.dumps`, `MdRender.renderSegments` + `segmentsToMd`, [[cellTexts]],
  * and `OutputRepair` for responses that need repair. The goldens, the
  * garbled-response branch and the per-layer tracer call those. The
  * layout modes' pages of trusted cells (our classifier's own output) take
  * [[trustedTail]] instead: the same composition specialized to
  * integer bboxes and string fields, one pass from layout to output
  * strings, falling back to the JSON-value tail on any page it does not
  * cover.
  */
object ExtractKernel {

  /** One page between the dispatcher ([[pagesOf]]) and the per-page tail
    * ([[parse]]). It lives in memory only: a page taken out on its own
    * travels as a [[RawPage]] row ([[toRawPage]] / [[fromRawPage]]). */
  private[graft] sealed trait Page
  /** A document that yields no page (bad gzip, empty payload, PDF parse
    * failure, empty page range): one error row carrying `message`. */
  private final case class Failed(message: String) extends Page
  /** Neither PDF, image nor HTML: the decoded payload is treated as a raw
    * model response, which drives the OutputRepair chain end to end. */
  private final case class Garbled(bytes: Array[Byte]) extends Page
  private final case class Image(bytes: Array[Byte]) extends Page
  /** HTML bytes. The DOM is built once, on first use inside [[onPage]]'s
    * catch; the fused web pass (graft.pipeline.WebPipeline) harvests its
    * links from that same DOM. */
  private[graft] final case class Html(bytes: Array[Byte]) extends Page {
    lazy val dom: HtmlDom.Element = HtmlDom.parse(HtmlDom.decodeBytes(bytes))
  }
  private final case class Pdf(page: PdfLite.PdfPage) extends Page

  /** The one dispatcher: payload → pages, in the order gunzip → empty →
    * PDF (real or lite) → image → HTML → garbled.
    *
    * Page ranges follow the reference's `load_images_from_pdf(start_page_id,
    * end_page_id)` (doc_utils.py:42-58) and apply to PDFs only: inclusive
    * [start, end], end < 0 → last page, end clamped to the page count;
    * page_no restarts at 0 relative to the slice (parser.py:262-271
    * enumerates the sliced image list). Pruning happens here, before any
    * page is parsed, so skipped pages cost nothing. */
  private[graft] def pagesOf(doc: PageDoc, startPageId: Int, endPageId: Int): Vector[Page] =
    decodePayload(doc.html) match {
      // transparent Content-Encoding, strict: a corrupt/truncated gzip body
      // (or a decompression bomb past the cap) must become a TYPED error
      // row, never a partial document (a browser refuses a bad CRC too)
      case Left(err) => Vector(Failed(err))
      case Right(bytes) if bytes == null || bytes.isEmpty => Vector(Failed("empty payload"))
      case Right(bytes) if isRealPdf(bytes) || PdfLite.isPdfLite(bytes) =>
        pdfDocOf(bytes) match {
          case Left(err) => Vector(Failed(err))
          case Right(pdf) =>
            val slice = slicePages(pdf, startPageId, endPageId)
            if (slice.isEmpty) Vector(Failed(s"empty page range [$startPageId, $endPageId]"))
            else slice.map(Pdf(_))
        }
      // image payload → a single-page document whose page IS the raster
      // (reference: .jpg/.jpeg/.png route through parse_image,
      // parser.py:252-256 + :294-312, extensions consts.py:5; parse_image
      // takes no page range)
      case Right(bytes) if isImage(bytes) => Vector(Image(bytes))
      case Right(bytes) if looksLikeHtml(bytes) => Vector(Html(bytes))
      case Right(bytes) => Vector(Garbled(bytes))
    }

  /** Document fan-out: one input row → pages (reference analog:
    * `load_images_from_pdf` + per-page tasks, parser.py:258-271). */
  def fanOut(doc: PageDoc): Vector[RawPage] = fanOut(doc, 0, -1)

  /** Page-range fan-out into self-contained [[RawPage]] rows, each page
    * parseable alone by [[parsePage]] (range semantics: [[pagesOf]]). No
    * pipeline topology uses it: both parse whole documents with
    * [[parseDoc]], which skips the per-page PDF serialize and re-parse. */
  def fanOut(doc: PageDoc, startPageId: Int, endPageId: Int): Vector[RawPage] = {
    val pages = pagesOf(doc, startPageId, endPageId)
    pages.zipWithIndex.map { case (page, i) => toRawPage(doc, i, pages.length, page) }
  }

  /** Only PDF pages are re-serialized: a RawPage carries its page as bytes. */
  private def toRawPage(doc: PageDoc, pageNo: Int, total: Int, page: Page): RawPage = {
    val (kind, bytes) = page match {
      case Failed(message) => ("error", message.getBytes(StandardCharsets.UTF_8))
      case Garbled(b)      => ("garbled", b)
      case Image(b)        => ("image", b)
      case Html(b)         => ("html", b)
      case Pdf(p)          => ("pdf", PdfLite.serialize(PdfLite.PdfDoc(Vector(p))))
    }
    RawPage(doc.url, pageNo, total, kind, bytes, doc.lang)
  }

  private def fromRawPage(page: RawPage): Page = page.payload_kind match {
    case "error"   => Failed(new String(page.page_bytes, StandardCharsets.UTF_8))
    case "garbled" => Garbled(page.page_bytes)
    case "pdf"     => Pdf(PdfLite.parse(page.page_bytes).pages.head)
    case "image"   => Image(page.page_bytes)
    case _         => Html(page.page_bytes)
  }

  /** gzip magic (RFC 1952) — a crawl table can carry
    * Content-Encoding-compressed bodies verbatim. */
  def isGzip(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 2 &&
      (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Inflation cap per payload (decompression-bomb guard): 256 MiB —
    * far above any real page body, far below executor memory. */
  val MaxInflatedPayload: Int = 1 << 28

  /** Nested-gzip dispatch bound (a gzip quine exists; real bodies are
    * at most double-wrapped by misconfigured proxies). */
  val MaxGzipDepth: Int = 4

  /** Transparent Content-Encoding: gzip payloads (sniffed, not
    * header-driven — the table stores no response headers) inflate
    * before S1 dispatch, so a compressed crawl table extracts
    * byte-identically to its inflated twin. Identity for everything
    * else. STRICT on the payload path: corrupt bytes, a bad CRC, or a
    * body past [[MaxInflatedPayload]] yield Left → the kernel's typed
    * error row (unlike the WARC file parser's parsed-prefix tolerance —
    * there a torn tail loses records; here it would silently truncate a
    * document). */
  def decodePayload(bytes: Array[Byte]): Either[String, Array[Byte]] = {
    var cur = bytes
    var depth = 0
    while (isGzip(cur)) {
      if (depth >= MaxGzipDepth)
        return Left(s"nested gzip deeper than $MaxGzipDepth")
      gunzipStrict(cur) match {
        case Right(r) => cur = r; depth += 1
        case left => return left
      }
    }
    Right(cur)
  }

  private def gunzipStrict(bytes: Array[Byte]): Either[String, Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 4, 1 << 20))
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val tmp = new Array[Byte](64 * 1024)
      var n = in.read(tmp)
      while (n >= 0) {
        out.write(tmp, 0, n)
        if (out.size() > MaxInflatedPayload)
          return Left(s"gzip payload exceeds $MaxInflatedPayload inflated bytes")
        n = in.read(tmp)
      }
      Right(out.toByteArray)
    } catch {
      case e: java.io.IOException => Left(s"undecodable gzip payload: ${e.getMessage}")
    }
  }

  /** Real-PDF magic (`%PDF-`, consts.py:5 routes .pdf first-class). */
  def isRealPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  /** PNG (`\x89PNG`) / JPEG (`\xFF\xD8\xFF`) magic — the reference's
    * supported image extensions (consts.py:5: .jpg/.jpeg/.png), detected
    * by content since a crawl table has no filename. */
  def isImage(bytes: Array[Byte]): Boolean =
    (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') ||
    (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
      (bytes(2) & 0xff) == 0xff)

  /** Image payload → page layout (reference `fetch_image` + to_rgb +
    * classifier over the raster, image_utils.py:84-140). The deterministic
    * classifier stand-in for a pure raster is ONE full-bleed Picture cell
    * (no text — prompts.py:11) backed by the image itself, so md embeds a
    * REAL crop. `fitzPreprocess` reproduces parser.py:158-160: the image
    * becomes a 1-page 72-dpi PDF rendered at target dpi, so the INPUT dims
    * derive from the dpi-scaled render (Geometry.renderedPageDims) while
    * bboxes stay in original pixel space. Throws on undecodable bytes —
    * [[onPage]] converts that into the typed error row. */
  def imageToLayout(bytes: Array[Byte], fitzPreprocess: Boolean = false): HtmlExtract.PageLayout = {
    // header-only dims probe (hot path: no pixel decode), gated by a
    // structural trailer check (Raster.trailerOk): a sniffed-but-TRUNCATED
    // payload must not yield a successful Picture row whose full-bleed md
    // embeds broken bytes — the reference's fetch_image decode raises
    // there (PIL errors on truncated files at load), so a missing trailer
    // THROWS here → onPage's typed error row. (It must throw, not fall
    // back to ImageIO: ImageIO silently returns the partial pixels of a
    // truncated JPEG.) Residual weakening vs the reference: pixel-data
    // corruption BEHIND an intact trailer still embeds verbatim (as a
    // browser would render it) — accepted and documented; catching it
    // would need the 8×-wall full decode per image that the fast path
    // exists to avoid. Formats the sniffer doesn't cover take the full
    // decode, which throws on undecodable bytes → same typed error row.
    val (w, h) = Raster.headerInfo(bytes) match {
      case Some((wi, hi, _)) =>
        if (!Raster.trailerOk(bytes))
          throw new IllegalArgumentException("truncated raster: missing trailer")
        (wi.toLong, hi.toLong)
      case None =>
        val img = Raster.decode(bytes)
        (img.getWidth.toLong, img.getHeight.toLong)
    }
    val cell = JObject(
      "bbox" -> JArray(Vector(JInt(0), JInt(0), JInt(w), JInt(h))),
      "category" -> JString(graft.core.Categories.Picture))
    HtmlExtract.PageLayout(w, h, Vector(cell),
      raster = Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(bytes)),
      renderDims = if (fitzPreprocess) Some(Geometry.renderedPageDims(w.toDouble, h.toDouble)) else None)
  }

  /** Parse a PDF payload of either flavor into the shared page model:
    * real `%PDF-` files go through the [[PdfReal]] text-layer parser
    * (reference parses real PDFs first-class via PyMuPDF,
    * doc_utils.py:42-60); PDF-lite goes through [[PdfLite.parse]]. A
    * payload outside the supported slice (encrypted, non-Flate filters,
    * no text layer, truncated) becomes a typed error message, NOT junk
    * for the garbled-repair branch. Caller guarantees one of the two
    * magics matched. */
  private def pdfDocOf(bytes: Array[Byte]): Either[String, PdfLite.PdfDoc] =
    if (isRealPdf(bytes)) {
      try Right(PdfReal.parse(bytes))
      catch {
        case e: PdfReal.PdfRealError =>
          Left(s"unsupported_format: real PDF payload (${e.getMessage}); " +
            "this build parses the text layer of uncompressed/Flate PDFs, PDF-lite, and HTML")
        case NonFatal(e) =>
          // I3 never-throw contract: at corpus scale every byte pattern
          // arrives eventually, and an escaped exception fails the task
          // 4x then kills the job — any unanticipated parser path
          // degrades to the same typed error row (FuzzSpec)
          Left(s"unsupported_format: real PDF parse failure (${e.getClass.getSimpleName})")
      }
    } else {
      try Right(PdfLite.parse(bytes))
      catch {
        case e: PdfLite.PdfLiteError => Left(e.getMessage)
        case NonFatal(e) =>
          Left(s"pdf-lite parse failure (${e.getClass.getSimpleName})")
      }
    }

  /** Inclusive [start, end] page slice; end < 0 → last page (reference
    * `load_images_from_pdf` range semantics, doc_utils.py:42-58). */
  private def slicePages(pdf: PdfLite.PdfDoc, startPageId: Int, endPageId: Int): Vector[PdfLite.PdfPage] =
    if (startPageId == 0 && endPageId < 0) pdf.pages
    else {
      val last = pdf.pages.length - 1
      val end = if (endPageId >= 0) math.min(endPageId, last) else last
      pdf.pages.slice(startPageId, end + 1)
    }

  def looksLikeHtml(bytes: Array[Byte]): Boolean = {
    // decode the prefix charset-aware (BOM/meta sniff) so e.g. a UTF-16
    // page still dispatches to the HTML branch instead of garbled-repair
    val prefix = java.util.Arrays.copyOfRange(bytes, 0, math.min(bytes.length, 1024))
    val head = HtmlDom.decodeBytes(prefix).toLowerCase.dropWhile(_.isWhitespace)
    head.startsWith("<!doctype") || head.startsWith("<html") || head.contains("<body") ||
      head.startsWith("<head") || head.contains("<html")
  }

  /** Classifier cells in smart-resized INPUT coordinate space (what the
    * VLM would emit), for the layout modes. */
  def classifierCells(
      layout: HtmlExtract.PageLayout,
      mode: PromptMode,
      inputW: Long,
      inputH: Long): Vector[JValue] = {
    val sx = inputW.toDouble / layout.width
    val sy = inputH.toDouble / layout.height
    def toInput(cell: JObject): JObject = {
      val JArray(b) = cell.get("bbox").get
      val scaled = Vector(
        BboxScale.pyIntOfDouble(BboxScale.pyFloatOf(b(0)) * sx),
        BboxScale.pyIntOfDouble(BboxScale.pyFloatOf(b(1)) * sy),
        BboxScale.pyIntOfDouble(BboxScale.pyFloatOf(b(2)) * sx),
        BboxScale.pyIntOfDouble(BboxScale.pyFloatOf(b(3)) * sy))
      cell.updated("bbox", JArray(scaled.map(JInt(_))))
    }
    mode match {
      case PromptMode.LayoutOnly =>
        // "Do not output the corresponding text" (prompts.py:23)
        layout.cells.map { c =>
          toInput(JObject(c.fields.filter { case (k, _) => k != "text" }))
        }
      case _ =>
        layout.cells.map(toInput)
    }
  }

  /** The classifier "model": emit the response string the pre/post dataflow
    * consumes, in smart-resized INPUT coordinate space (as the VLM does). */
  def classifierResponse(
      layout: HtmlExtract.PageLayout,
      mode: PromptMode,
      inputW: Long,
      inputH: Long): String = {
    val sx = inputW.toDouble / layout.width
    val sy = inputH.toDouble / layout.height
    mode match {
      case PromptMode.LayoutAll | PromptMode.LayoutOnly =>
        PyJson.dumps(JArray(classifierCells(layout, mode, inputW, inputH)))
      case PromptMode.Ocr =>
        cellTexts(layout.cells, includeHf = true).mkString("\n\n")
      case PromptMode.GroundingOcr((qx1, qy1, qx2, qy2)) =>
        // query bbox is in ORIGINAL space; reference pre-processes it into
        // input space and the model answers for that region (parser.py:130-137)
        val q = BboxScale.preProcessBboxes(
          layout.width, layout.height,
          Vector(Vector(JInt(qx1), JInt(qy1), JInt(qx2), JInt(qy2))),
          inputW, inputH).head
        val hits = layout.cells.filter { c =>
          val JArray(b) = c.get("bbox").get
          val cx = (BboxScale.pyFloatOf(b(0)) + BboxScale.pyFloatOf(b(2))) / 2 * sx
          val cy = (BboxScale.pyFloatOf(b(1)) + BboxScale.pyFloatOf(b(3))) / 2 * sy
          cx >= q(0).toDouble && cx <= q(2).toDouble && cy >= q(1).toDouble && cy <= q(3).toDouble
        }
        cellTexts(hits, includeHf = true).mkString("\n\n")
    }
  }

  /** Grounding-oracle dump: one row per join-eligible cell (cells carrying
    * a `text` key — exactly [[cellTexts]]'s eligibility) with its
    * input-space center and the page's pre-processed query bbox, plus one
    * anchor row (ord = -1) per page so zero-hit and error pages still form
    * an (url, page_no) group whose replayed response is "". The center and
    * query-bbox math mirrors [[classifierResponse]]'s GroundingOcr branch
    * term-for-term; the containment filter + ordered join is what the
    * DuckDB oracle replays independently (parser.py:130-137). */
  def groundingCellRows(doc: PageDoc,
      qbox: (Long, Long, Long, Long)): Vector[GroundingCellRow] =
    pagesOf(doc, 0, -1).zipWithIndex.flatMap { case (page, pageNo) =>
      val anchor = GroundingCellRow(doc.url, pageNo, -1, "",
        Double.MaxValue, Double.MaxValue, 0L, 0L, 0L, 0L)
      // error and garbled pages ⇒ md == "" ⇒ anchor only; an image page's
      // one Picture cell carries no text, so it yields the anchor alone too
      onPage(page, _ => Vector(anchor), _ => Vector(anchor)) { layout =>
        val (ih, iw) = Geometry.smartResize(layout.height, layout.width)
        val sx = iw.toDouble / layout.width
        val sy = ih.toDouble / layout.height
        val q = BboxScale.preProcessBboxes(
          layout.width, layout.height,
          Vector(Vector(JInt(qbox._1), JInt(qbox._2), JInt(qbox._3), JInt(qbox._4))),
          iw, ih).head
        val cellRows = layout.cells.zipWithIndex.collect {
          case (o: JObject, ord) if o.has("text") =>
            val JArray(b) = o.get("bbox").get
            val cx = (BboxScale.pyFloatOf(b(0)) + BboxScale.pyFloatOf(b(2))) / 2 * sx
            val cy = (BboxScale.pyFloatOf(b(1)) + BboxScale.pyFloatOf(b(3))) / 2 * sy
            val text = o.get("text").get match {
              case JString(s) => s
              case v          => PyJson.pyStr(v)
            }
            GroundingCellRow(doc.url, pageNo, ord, text, cx, cy,
              q(0).toLong, q(1).toLong, q(2).toLong, q(3).toLong)
        }
        anchor +: cellRows
      }
    }

  def cellTexts(cells: Vector[JValue], includeHf: Boolean): Vector[String] =
    cells.collect {
      case o: JObject if o.has("text") &&
        (includeHf || !o.get("category").exists {
          case JString(c) => MdRender.PageHf.contains(c)
          case _          => false
        }) =>
        o.get("text").get match { case JString(s) => s; case v => PyJson.pyStr(v) }
    }

  /** Full per-page parse of one [[RawPage]] from [[fanOut]]. */
  def parsePage(page: RawPage, mode: PromptMode): ParsedPage =
    parse(page.url, page.page_no, fromRawPage(page), mode)

  /** Whole-document extraction: [[pagesOf]], then [[parse]] per page. A
    * multi-page PDF is parsed once and its pages go straight to the tail;
    * element-wise identical to `fanOut(...).map(parsePage(_, mode))`
    * (PdfRealSpec; the serialize→reparse round trip is a pinned identity,
    * PdfLiteSpec `parse(serialize(doc)) == doc`). */
  def parseDoc(doc: PageDoc, mode: PromptMode,
      startPageId: Int = 0, endPageId: Int = -1): Vector[ParsedPage] =
    parseAll(doc.url, pagesOf(doc, startPageId, endPageId), mode)

  private[graft] def parseAll(url: String, pages: Vector[Page], mode: PromptMode): Vector[ParsedPage] =
    pages.zipWithIndex.map { case (page, pageNo) => parse(url, pageNo, page, mode) }

  /** The per-page tail (reference `_parse_single_image`). Never throws:
    * failures become error rows (the reference writes page_NNN_error.txt,
    * mac/run_ocr_batch.py:405-448). */
  private def parse(url: String, pageNo: Int, page: => Page, mode: PromptMode): ParsedPage =
    onPage(page, errorRow(url, pageNo, _), response => mode match {
      case PromptMode.Ocr | _: PromptMode.GroundingOcr =>
        // non-layout prompt modes pass the raw response through untouched
        // — the reference only post-processes the layout trio
        // (parser.py:175,240-242); prompt_ocr md IS the response
        ParsedPage(url, pageNo, 960, 1280, 960, 1280,
          cells_json = "", md = response, md_nohf = response,
          extracted_text = response, filtered = false, error = "")
      case _ =>
        // response that never parses cleanly → repair chain → filtered row
        finishLayout(url, pageNo, mode, response, 1280, 960, 1280, 960)
    })(parseLayout(url, pageNo, mode, _))

  private def errorRow(url: String, pageNo: Int, error: String): ParsedPage =
    ParsedPage(url, pageNo, 0, 0, 0, 0, "", "", "", "", filtered = false, error = error)

  /** The kernel's one per-page catch site. Builds the page's layout and
    * hands it to `render`; a garbled page goes to `garbled` as the raw
    * response. A failed page, or a throw while building the page, its
    * layout or the result, becomes `failed(message)`. `page` is by-name
    * so that decoding a RawPage fails here too. No `Error` is caught:
    * the DOM walks and XY-cut run off explicit stacks and the JSON parse
    * stops at a fixed depth, so deep input gets its real extraction
    * whatever the thread's stack size. */
  private def onPage[A](page: => Page, failed: String => A, garbled: String => A)(
      render: HtmlExtract.PageLayout => A): A = {
    // an image payload that does not decode gets its own typed message, as
    // a PDF parse failure does; any later failure is the generic one
    var decodingImage = false
    try page match {
      case Failed(message) => failed(message)
      case Garbled(bytes)  => garbled(new String(bytes, StandardCharsets.UTF_8))
      case Image(bytes) =>
        decodingImage = true
        val layout = imageToLayout(bytes)
        decodingImage = false
        render(layout)
      case Pdf(p)  => render(PdfLite.pageToLayout(p))
      case h: Html => render(HtmlExtract.extractFromDom(h.dom))
    } catch {
      case NonFatal(e) if decodingImage =>
        failed(s"unsupported_format: image payload (${e.getClass.getSimpleName})")
      case e: Exception => failed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Mode dispatch + render from a page layout. */
  private def parseLayout(url: String, pageNo: Int, mode: PromptMode,
      layout: HtmlExtract.PageLayout): ParsedPage = {
    // fitz-preprocessed pages derive INPUT dims from the dpi-scaled render
    // (parser.py:158-160); bboxes still rescale to the original dims below
    val (srcH, srcW) = layout.renderDims.getOrElse((layout.height, layout.width))
    val (ih, iw) = Geometry.smartResize(srcH, srcW)
    mode match {
      case PromptMode.Ocr | _: PromptMode.GroundingOcr =>
        val response = classifierResponse(layout, mode, iw, ih)
        // prompt_ocr responses pass through untouched (layout_utils.py:203)
        ParsedPage(url, pageNo, ih.toInt, iw.toInt,
          layout.height.toInt, layout.width.toInt,
          cells_json = "", md = response, md_nohf = response,
          extracted_text = response, filtered = false, error = "")
      case m =>
        // trusted path: our classifier's output round-trips the
        // serializer exactly (ints + strings only), so the reference's
        // json.loads(response) is the identity here — skip the
        // dumps→parse of the full cell array (hot-path allocation;
        // equivalence pinned by ExtractKernelSpec). A page the trusted
        // tail declines takes the string path, as model responses do.
        trustedTail(url, pageNo, m, layout, iw, ih).getOrElse(
          finishLayout(url, pageNo, m, PyJson.dumps(JArray(classifierCells(layout, m, iw, ih))),
            layout.width, layout.height, iw, ih, layout.raster))
    }
  }

  /** The trusted tail: [[classifierCells]] → `post_process_cells` →
    * `json.dumps` / `layoutjson2md` ×2 / [[cellTexts]] in one pass over a
    * layout of trusted cells, straight into the four output strings.
    * Each cell is read positionally: `bbox` (four `JInt`s), `category`
    * (a `JString`), then an optional `text` (a `JString`). Coordinates go
    * to input space and back in `Long`/`Double` with CPython's `int()`
    * truncation, all before any cell renders, as the reference rescales
    * every cell before its markdown pass.
    *
    * `None` declines the page: an empty layout, any other cell shape, a
    * coordinate that is non-finite or at least 2^53 in magnitude in any of
    * the three spaces, or a [[BboxScale.KernelError]] /
    * [[Geometry.AspectRatioError]] (a formula that raises, an input aspect
    * ratio past 200). A declined page takes the JSON-value path that
    * defines the result — [[classifierCells]] serialized and run through
    * [[finishLayout]], as a model response is — so it keeps its error row,
    * repair fallback and big-integer output exactly. Row-equal to that
    * path on every page it accepts (PropertySpec). */
  private[kernel] def trustedTail(url: String, pageNo: Int, mode: PromptMode,
      layout: HtmlExtract.PageLayout, inputW: Long, inputH: Long): Option[ParsedPage] = {
    import BboxScale.ExactLong
    val cells = layout.cells
    val n = cells.length
    if (n == 0) return None
    val withText = mode != PromptMode.LayoutOnly
    val categories = new Array[String](n)
    val texts = new Array[String](n) // null: no text key, or LayoutOnly
    val coords = new Array[Long](4 * n)
    var hasHf = false
    var textChars = 0L
    try {
      // classifierCells' scale into input space, then postProcessCells'
      // scale (over the re-smart-resized input dims) back to the page
      val (postH, postW) = Geometry.smartResize(inputH, inputW)
      val inX = inputW.toDouble / layout.width
      val inY = inputH.toDouble / layout.height
      val outX = postW.toDouble / layout.width
      val outY = postH.toDouble / layout.height
      var i = 0
      while (i < n) {
        val fields = cells(i).fields
        if (fields.length < 2 || fields.length > 3) return None
        val bbox = fields(0) match {
          case ("bbox", JArray(b)) if b.length == 4 => b
          case _                                    => return None
        }
        var k = 0
        while (k < 4) {
          val v = bbox(k) match {
            case JInt(b) if b.isValidLong => b.toLong
            case _                        => return None
          }
          if (!(v > -ExactLong && v < ExactLong)) return None
          val even = (k & 1) == 0
          val in = v.toDouble * (if (even) inX else inY)
          if (!(in > -ExactLong && in < ExactLong)) return None
          val out = in.toLong.toDouble / (if (even) outX else outY)
          if (!(out > -ExactLong && out < ExactLong)) return None
          coords(4 * i + k) = out.toLong
          k += 1
        }
        fields(1) match {
          case ("category", JString(c)) =>
            categories(i) = c
            if (withText && MdRender.PageHf.contains(c)) hasHf = true
          case _ => return None
        }
        if (fields.length == 3) fields(2) match {
          case ("text", JString(t)) =>
            if (withText) { texts(i) = t; textChars += t.length }
          case _ => return None
        }
        i += 1
      }

      val cellsJson = new java.lang.StringBuilder((64L * n + textChars + textChars / 8).toInt)
      val md = new java.lang.StringBuilder(if (withText) (8L * n + textChars).toInt else 0)
      // md_nohf is md unless some cell is a page header or footer
      val mdNohf = if (hasHf) new java.lang.StringBuilder((8L * n + textChars).toInt) else md
      val extracted = new java.lang.StringBuilder(if (withText) textChars.toInt else 0)
      lazy val pictures = new MdRender.PictureUris(layout.raster)
      var firstNohf = true
      var firstExtracted = true
      cellsJson.append('[')
      i = 0
      while (i < n) {
        val c = 4 * i
        val category = categories(i)
        val text = texts(i)
        if (i > 0) cellsJson.append(", ")
        cellsJson.append("{\"bbox\": [").append(coords(c)).append(", ").append(coords(c + 1))
          .append(", ").append(coords(c + 2)).append(", ").append(coords(c + 3))
          .append("], \"category\": ")
        PyJson.writeString(category, cellsJson)
        if (text != null) {
          cellsJson.append(", \"text\": ")
          PyJson.writeString(text, cellsJson)
        }
        cellsJson.append('}')
        if (withText) {
          val segment = category match {
            case Categories.Picture =>
              "![](" + pictures.uri(coords(c), coords(c + 1), coords(c + 2), coords(c + 3)) + ")"
            case Categories.Formula => MdRender.formulaInMarkdown(if (text == null) "" else text)
            case _                  => MdRender.cleanText(text)
          }
          if (i > 0) md.append("\n\n")
          md.append(segment)
          val hf = hasHf && MdRender.PageHf.contains(category)
          if (hasHf && !hf) {
            if (!firstNohf) mdNohf.append("\n\n")
            mdNohf.append(segment)
            firstNohf = false
          }
          if (text != null && !hf) {
            if (!firstExtracted) extracted.append("\n\n")
            extracted.append(text)
            firstExtracted = false
          }
        }
        i += 1
      }
      cellsJson.append(']')
      val mdString = md.toString
      Some(ParsedPage(url, pageNo, inputH.toInt, inputW.toInt,
        layout.height.toInt, layout.width.toInt, cellsJson.toString, mdString,
        if (hasHf) mdNohf.toString else mdString, extracted.toString,
        filtered = false, error = ""))
    } catch {
      case _: BboxScale.KernelError | _: Geometry.AspectRatioError => None
    }
  }

  private def renderParsed(
      url: String,
      pageNo: Int,
      mode: PromptMode,
      cells: Vector[JValue],
      originW: Long,
      originH: Long,
      inputW: Long,
      inputH: Long,
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None): ParsedPage = {
    val cellsJson = PyJson.dumps(JArray(cells))
    val (md, mdNohf) =
      if (mode == PromptMode.LayoutOnly) ("", "")
      else {
        // render each cell once; md and md_nohf share the segments
        val segs = MdRender.renderSegments(cells, raster = raster)
        (MdRender.segmentsToMd(segs, noPageHf = false), MdRender.segmentsToMd(segs, noPageHf = true))
      }
    val extracted = cellTexts(cells, includeHf = false).mkString("\n\n")
    ParsedPage(url, pageNo, inputH.toInt, inputW.toInt,
      originH.toInt, originW.toInt, cellsJson, md, mdNohf, extracted,
      filtered = false, error = "")
  }

  /** Layout-mode post-processing + rendering (parser.py:175-234). */
  private[kernel] def finishLayout(
      url: String,
      pageNo: Int,
      mode: PromptMode,
      response: String,
      originW: Long,
      originH: Long,
      inputW: Long,
      inputH: Long,
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None): ParsedPage = {
    OutputRepair.postProcessOutput(response, originW, originH, inputW, inputH) match {
      case OutputRepair.ParsedCells(cells) =>
        renderParsed(url, pageNo, mode, cells, originW, originH, inputW, inputH, raster)
      case OutputRepair.Filtered(text) =>
        // reference: raw response saved as the json artifact, cleaned text as
        // md (parser.py:184-204)
        ParsedPage(url, pageNo, inputH.toInt, inputW.toInt,
          originH.toInt, originW.toInt,
          cells_json = PyJson.dumps(JString(response)),
          md = text, md_nohf = text, extracted_text = text,
          filtered = true, error = "")
    }
  }
}
