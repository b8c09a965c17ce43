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

  /** XY-cut reading order: cut a block set on the widest whitespace gap
    * of either axis (ties → y, so a full-width title band separates
    * before a 2-column body splits into columns), recurse into both
    * sides, and sort a set that does not split in two by (y1, x1).
    * Deterministic; column-aware (SURVEY.md §7.2 step 5).
    *
    * It runs over index arrays, not block lists: the blocks are sorted
    * once by y1, once by x1 and once by (y1, x1), all stably under
    * `Float.compare` (NaN last, -0.0 before 0.0), and a cut
    * stable-partitions the three sorted ranges in place, so each side
    * stays sorted. A level costs O(m) in its m blocks, and the final
    * (y1, x1) array is the reading order. The cuts run off an explicit
    * stack, so a page of many nested cuts costs no thread stack; a page
    * whose cuts peel one block at a time is still quadratic in its block
    * count. */
  def readingOrder(blocks: Vector[PdfBlock]): Vector[PdfBlock] = {
    val n = blocks.length
    if (n <= 1) return blocks
    val x1 = new Array[Float](n); val y1 = new Array[Float](n)
    val x2 = new Array[Float](n); val y2 = new Array[Float](n)
    var i = 0
    while (i < n) {
      val b = blocks(i)
      x1(i) = b.x1; y1(i) = b.y1; x2(i) = b.x2; y2(i) = b.y2
      i += 1
    }
    val byX = stableOrder(x1, null)
    val byY = stableOrder(y1, null)
    val byYX = stableOrder(y1, byX)

    val gap = new Array[Float](2)
    val left = new Array[Boolean](n)
    val tmp = new Array[Int](n)
    // stable in-place partition of one sorted range: `left` members first
    def split(a: Array[Int], lo: Int, hi: Int): Unit = {
      var w = lo
      var r = 0
      var k = lo
      while (k < hi) {
        val j = a(k)
        if (left(j)) { a(w) = j; w += 1 } else { tmp(r) = j; r += 1 }
        k += 1
      }
      System.arraycopy(tmp, 0, a, w, r)
    }
    // ranges [lo, hi) still to cut, as an explicit stack
    val los = new Array[Int](n); val his = new Array[Int](n)
    var top = 0
    los(0) = 0; his(0) = n; top = 1
    while (top > 0) {
      top -= 1
      val lo = los(top); val hi = his(top)
      if (hi - lo > 1) {
        val yFound = largestGap(byY, lo, hi, y1, y2, gap)
        val yc = gap(0); val yw = gap(1)
        val xFound = largestGap(byX, lo, hi, x1, x2, gap)
        val xc = gap(0); val xw = gap(1)
        val onY = yFound && (!xFound || yw >= xw)
        if (onY || xFound) {
          var na = 0
          var k = lo
          while (k < hi) {
            val j = byYX(k)
            left(j) =
              if (onY) (y1(j) + y2(j)) / 2 < yc
              else (x1(j) + x2(j)) / 2 < xc
            if (left(j)) na += 1
            k += 1
          }
          if (na > 0 && na < hi - lo) {
            split(byY, lo, hi); split(byX, lo, hi); split(byYX, lo, hi)
            los(top) = lo + na; his(top) = hi; top += 1
            los(top) = lo; his(top) = lo + na; top += 1
          }
        }
      }
    }
    val out = Vector.newBuilder[PdfBlock]
    out.sizeHint(n)
    i = 0
    while (i < n) { out += blocks(byYX(i)); i += 1 }
    out.result()
  }

  private val MinGap = 8.0f

  /** Widest whitespace gap across the intervals `[start, end]` of the
    * range `order[lo, hi)`, sorted by start: sets `out` to (center,
    * width) and returns whether one of at least [[MinGap]] exists. The
    * first of equally wide gaps wins. */
  private def largestGap(order: Array[Int], lo: Int, hi: Int,
      start: Array[Float], end: Array[Float], out: Array[Float]): Boolean = {
    var found = false
    var maxEnd = end(order(lo))
    var k = lo + 1
    while (k < hi) {
      val s = start(order(k))
      if (s - maxEnd >= MinGap) {
        val width = s - maxEnd
        if (!found || out(1) < width) { out(0) = (s + maxEnd) / 2; out(1) = width; found = true }
      }
      maxEnd = math.max(maxEnd, end(order(k)))
      k += 1
    }
    found
  }

  /** Indices sorted stably by `key` under `Float.compare`; with `within`,
    * ties keep their order in `within` instead of index order. */
  private def stableOrder(key: Array[Float], within: Array[Int]): Array[Int] = {
    val n = key.length
    // an int whose signed order is Float.compare's, over the sort key's
    // high half; the low half (index or rank) makes every key unique
    val packed = new Array[Long](n)
    var r = 0
    while (r < n) {
      val j = if (within == null) r else within(r)
      val bits = java.lang.Float.floatToIntBits(key(j))
      packed(r) = ((bits ^ ((bits >> 31) & 0x7fffffff)).toLong << 32) | r
      r += 1
    }
    java.util.Arrays.sort(packed)
    val order = new Array[Int](n)
    r = 0
    while (r < n) {
      val low = packed(r).toInt
      order(r) = if (within == null) low else within(low)
      r += 1
    }
    order
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
      val bbox = "bbox" -> JArray(Vector(
        JInt(BboxScale.pyIntOfDouble(b.x1 * scale)), JInt(BboxScale.pyIntOfDouble(b.y1 * scale)),
        JInt(BboxScale.pyIntOfDouble(b.x2 * scale)), JInt(BboxScale.pyIntOfDouble(b.y2 * scale))))
      val category = "category" -> JString(b.category)
      JObject(
        if (b.category == Categories.Picture) Vector(bbox, category)
        else Vector(bbox, category, "text" -> JString(b.text)))
    }
    HtmlExtract.PageLayout(wPx, hPx, cells, page.raster)
  }
}
