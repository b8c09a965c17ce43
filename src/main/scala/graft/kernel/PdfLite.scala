package graft.kernel

import graft.core.Categories
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** PDF branch: a compact structured page-description format + layout parse.
  *
  * Real PDF parsing is out of scope in this sandbox (no raster/type1 stack);
  * PDF-lite is the stand-in binary format our generator emits and this
  * parser consumes (FIXTURES.md §1). What IS faithful to the reference:
  *   - page fan-out semantics of `load_images_from_pdf`
  *     (/root/reference/dots_ocr/utils/doc_utils.py:42-60): every page in
  *     `[start_page_id, end_page_id]`, one record per page;
  *   - dpi geometry of `fitz_doc_to_image` (doc_utils.py:20-39): pages are
  *     "rendered" at dpi/72 scale with the 4500-px fallback to 72 dpi;
  *   - reading order: the model sorts cells in human reading order
  *     (prompts.py:17) — reproduced with a recursive XY-cut over block
  *     geometry (column-aware: vertical gap splits first).
  *
  * Format (big-endian):
  *   magic "PDFL" | version u8 | nPages u16
  *   per page: width f32 (points) | height f32 | nBlocks u16
  *     per block: x1 f32 | y1 f32 | x2 f32 | y2 f32 (points, unordered)
  *                | categoryCode u8 (index into Categories.All) | textLen u32
  *                | utf-8 text bytes
  *   version 2 adds, after each page's blocks: rasterLen u32 | PNG bytes
  *     (0 = none) — the rendered page image at the page's dpi-rendered
  *     pixel dims, the analog of the reference's `fitz_doc_to_image`
  *     raster (doc_utils.py:20-39) that Picture cells crop from
  *     (format_transformer.py:169-172). Raster-less docs serialize as
  *     version 1, byte-identical to round 2.
  */
object PdfLite {

  val Magic: Array[Byte] = "PDFL".getBytes(StandardCharsets.US_ASCII)

  final case class PdfBlock(x1: Float, y1: Float, x2: Float, y2: Float,
      category: String, text: String)
  final case class PdfPage(widthPts: Float, heightPts: Float, blocks: Vector[PdfBlock],
      raster: Option[scala.collection.immutable.ArraySeq[Byte]] = None)
  final case class PdfDoc(pages: Vector[PdfPage])

  final class PdfLiteError(msg: String) extends RuntimeException(msg)

  def isPdfLite(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'D' && bytes(2) == 'F' && bytes(3) == 'L'

  def serialize(doc: PdfDoc): Array[Byte] = {
    val v2 = doc.pages.exists(_.raster.isDefined)
    val textBytes = doc.pages.map(_.blocks.map(_.text.getBytes(StandardCharsets.UTF_8)))
    var size = 4 + 1 + 2
    doc.pages.zipWithIndex.foreach { case (p, pi) =>
      size += 4 + 4 + 2
      p.blocks.zipWithIndex.foreach { case (_, bi) =>
        size += 16 + 1 + 4 + textBytes(pi)(bi).length
      }
      if (v2) size += 4 + p.raster.fold(0)(_.length)
    }
    val buf = ByteBuffer.allocate(size).order(ByteOrder.BIG_ENDIAN)
    buf.put(Magic).put((if (v2) 2 else 1).toByte).putShort(doc.pages.length.toShort)
    doc.pages.zipWithIndex.foreach { case (p, pi) =>
      buf.putFloat(p.widthPts).putFloat(p.heightPts).putShort(p.blocks.length.toShort)
      p.blocks.zipWithIndex.foreach { case (b, bi) =>
        buf.putFloat(b.x1).putFloat(b.y1).putFloat(b.x2).putFloat(b.y2)
        buf.put(Categories.toCode(b.category).toByte)
        val tb = textBytes(pi)(bi)
        buf.putInt(tb.length).put(tb)
      }
      if (v2) p.raster match {
        case Some(r) =>
          buf.putInt(r.length)
          buf.put(r.toArray)
        case None => buf.putInt(0)
      }
    }
    buf.array()
  }

  /** Parse; throws [[PdfLiteError]] on truncated/corrupt payloads (the
    * pipeline surfaces these as error rows, mirroring the reference's
    * per-page error files, mac/run_ocr_batch.py:405-448). */
  def parse(bytes: Array[Byte]): PdfDoc = {
    if (!isPdfLite(bytes)) throw new PdfLiteError("bad magic")
    try {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      buf.position(4)
      val version = buf.get()
      if (version != 1 && version != 2) throw new PdfLiteError(s"unsupported version $version")
      val nPages = buf.getShort() & 0xffff
      val pages = Vector.newBuilder[PdfPage]
      var p = 0
      while (p < nPages) {
        val w = buf.getFloat()
        val h = buf.getFloat()
        if (w <= 0 || h <= 0 || w.isNaN || h.isNaN) throw new PdfLiteError("bad page dims")
        val nBlocks = buf.getShort() & 0xffff
        val blocks = Vector.newBuilder[PdfBlock]
        var b = 0
        while (b < nBlocks) {
          val x1 = buf.getFloat(); val y1 = buf.getFloat()
          val x2 = buf.getFloat(); val y2 = buf.getFloat()
          val code = buf.get() & 0xff
          val cat = Categories.byCode.getOrElse(code, throw new PdfLiteError(s"bad category code $code"))
          val len = buf.getInt()
          if (len < 0 || len > buf.remaining()) throw new PdfLiteError("bad text length")
          val tb = new Array[Byte](len)
          buf.get(tb)
          blocks += PdfBlock(x1, y1, x2, y2, cat, new String(tb, StandardCharsets.UTF_8))
          b += 1
        }
        val raster =
          if (version < 2) None
          else {
            val rlen = buf.getInt()
            if (rlen < 0 || rlen > buf.remaining()) throw new PdfLiteError("bad raster length")
            if (rlen == 0) None
            else {
              val rb = new Array[Byte](rlen)
              buf.get(rb)
              Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(rb))
            }
          }
        pages += PdfPage(w, h, blocks.result(), raster)
        p += 1
      }
      PdfDoc(pages.result())
    } catch {
      case e: PdfLiteError => throw e
      case e: Exception    => throw new PdfLiteError(s"truncated payload: ${e.getClass.getSimpleName}")
    }
  }

  /** XY-cut reading order: prefer splitting on the widest
    * vertical gap (column break), then the widest horizontal gap, else
    * sort by (y, x). Deterministic; column-aware (SURVEY.md §7.2 step 5). */
  def readingOrder(blocks: Vector[PdfBlock]): Vector[PdfBlock] = {
    val MinGap = 8.0f

    // widest whitespace gap across the projected intervals → (center, width)
    def largestGap(ivs: Vector[(Float, Float)]): Option[(Float, Float)] = {
      val sorted = ivs.sortBy(_._1)
      var maxEnd = sorted.head._2
      var best: Option[(Float, Float)] = None
      sorted.tail.foreach { case (s, e) =>
        if (s - maxEnd >= MinGap) {
          val width = s - maxEnd
          if (best.forall(_._2 < width)) best = Some(((s + maxEnd) / 2, width))
        }
        maxEnd = math.max(maxEnd, e)
      }
      best
    }

    // cut on the WIDEST gap of either axis (ties → y): a full-width title
    // band separates on y first, while a 2-column body with a wide gutter
    // splits into columns before its rows interleave; a set that does not
    // split in two sorts by (y, x)
    def cut(bs: Vector[PdfBlock]): Option[(Vector[PdfBlock], Vector[PdfBlock])] = {
      if (bs.length <= 1) return None
      val yGap = largestGap(bs.map(b => (b.y1, b.y2)))
      val xGap = largestGap(bs.map(b => (b.x1, b.x2)))
      val (a, b) = (yGap, xGap) match {
        case (Some((yc, yw)), x) if x.forall(yw >= _._2) =>
          bs.partition(bl => (bl.y1 + bl.y2) / 2 < yc)
        case (_, Some((xc, _))) => bs.partition(bl => (bl.x1 + bl.x2) / 2 < xc)
        case _                  => (bs, Vector.empty)
      }
      if (a.nonEmpty && b.nonEmpty) Some((a, b)) else None
    }
    // `todo` holds the block sets still to order, leftmost first, on the
    // heap: a page of many nested cuts costs no thread stack
    @annotation.tailrec
    def order(todo: List[Vector[PdfBlock]], out: Vector[PdfBlock]): Vector[PdfBlock] = todo match {
      case Nil => out
      case bs :: rest => cut(bs) match {
        case Some((a, b)) => order(a :: b :: rest, out)
        case None         => order(rest, out ++ bs.sortBy(b => (b.y1, b.x1)))
      }
    }
    order(List(blocks), Vector.empty)
  }

  /** One page → layout cells in rendered-pixel space, applying the
    * dpi-scale + 4500-px clamp geometry (doc_utils.py:20-39), reading-order
    * sorted. Picture cells carry no text (prompts.py:11). */
  def pageToLayout(page: PdfPage, dpi: Int = Geometry.DefaultDpi): HtmlExtract.PageLayout = {
    val (wPx, hPx) = Geometry.renderedPageDims(page.widthPts, page.heightPts, dpi)
    val scale =
      if (math.ceil(page.widthPts * dpi / 72.0) > Geometry.MaxRenderSide ||
        math.ceil(page.heightPts * dpi / 72.0) > Geometry.MaxRenderSide) 1.0
      else dpi / 72.0
    val ordered = readingOrder(page.blocks)
    val cells = ordered.map { b =>
      val bbox = Vector(
        BboxScale.pyIntOfDouble(b.x1 * scale), BboxScale.pyIntOfDouble(b.y1 * scale),
        BboxScale.pyIntOfDouble(b.x2 * scale), BboxScale.pyIntOfDouble(b.y2 * scale))
      var cell = JObject(
        "bbox" -> JArray(bbox.map(JInt(_))),
        "category" -> JString(b.category))
      if (b.category != Categories.Picture) cell = cell.updated("text", JString(b.text))
      cell
    }
    HtmlExtract.PageLayout(wPx, hPx, cells, page.raster)
  }
}
