package graft.kernel

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}
import javax.imageio.ImageIO

/** Minimal raster kernel for the Picture-crop embed: decode the page PNG,
  * crop a cell bbox with PIL semantics, re-encode as a base64 PNG data URI
  * (reference: `image.crop((x1,y1,x2,y2))` + `PILimage_to_base64`,
  * format_transformer.py:169-172 / image_utils.py:67-71).
  *
  * Two paths produce the same bytes:
  *  - the DIRECT path ([[decodeRgb]] + [[RgbRows.cropDataUri]]) inflates
  *    the page once into packed RGB rows, copies each box out of them and
  *    writes the crop PNG itself. It accepts only what the page-raster
  *    writer (`MultimodalOps.Codec.encodePng` of a `TYPE_INT_RGB` image)
  *    produces: a non-interlaced 8-bit RGB PNG (colour type 2) made of
  *    IHDR, IDAT and IEND chunks, every CRC valid, whose zlib stream ends
  *    at exactly `H × (1 + 3W)` bytes with filter byte 0 on every row. It
  *    writes the crop the way JDK 17's `PNGImageWriter` writes a
  *    `TYPE_INT_RGB` image: IHDR colour type 2 depth 8, filter None on
  *    every row, one `Deflater(4)` stream, IDAT split at 32 KiB, IEND.
  *  - the ImageIO path ([[decode]] + [[pilCrop]] + [[pngDataUri]]) takes
  *    every input the direct path declines (RGBA, gray, palette, 16-bit,
  *    interlaced, filtered rows, ancillary chunks, JPEG, damaged streams)
  *    and is the reference the direct path is tested against byte for
  *    byte.
  *
  * Lives in `graft.kernel` (not `graft.ops.MultimodalOps.Codec`, its
  * sibling) so the kernel keeps a one-way dependency on nothing above it.
  * PNG bytes differ from PIL's encoder output by construction (different
  * compressors); what is contract here is the URI scheme and the DECODED
  * pixel content of the crop, which the golden spec pins.
  */
object Raster {

  // ImageIO's default scratch cache is FILE-backed: every read/write over
  // a stream stages through a temp file on disk (FileCacheImageInput/
  // OutputStream). In-memory payloads gain nothing from that and would pay
  // a file create+write+delete per fallback crop and per image-branch
  // decode. Memory staging is byte-identical output, just without the
  // syscalls. (JVM-global; MultimodalOps.Codec sets it too — either may
  // class-load first.)
  ImageIO.setUseCache(false)

  /** (width, height, opaque) from the PNG IHDR / JPEG SOF header WITHOUT
    * decoding pixel data — the hot-path dims probe for image payloads
    * (a full ImageIO decode per image doc was ~8× kernel wall). `opaque` =
    * the format cannot carry alpha (JPEG always; PNG color types 0/2):
    * only such images take the embed-source-bytes fast path, because the
    * reference flattens RGBA onto white via to_rgb (image_utils.py:74-80)
    * and an alpha-preserving byte-reuse would diverge. */
  def headerInfo(bytes: Array[Byte]): Option[(Int, Int, Boolean)] = {
    def be32(i: Int): Int =
      ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
        ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
    def be16(i: Int): Int = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    if (bytes.length >= 26 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G' && bytes(12) == 'I' && bytes(13) == 'H' &&
      bytes(14) == 'D' && bytes(15) == 'R') {
      val w = be32(16); val h = be32(20)
      val colorType = bytes(25) & 0xff
      if (w > 0 && h > 0) Some((w, h, colorType == 0 || colorType == 2)) else None
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      // scan JPEG segments for a start-of-frame marker (C0–CF minus C4/C8/CC)
      var i = 2
      while (i + 1 < bytes.length && (bytes(i) & 0xff) == 0xff) {
        // skip 0xFF fill/padding bytes before the marker byte (legal per
        // ITU T.81 §B.1.1.2) — treating a pad byte as the marker would
        // read a bogus segment length and desynchronize the scan
        var m = i + 1
        while (m < bytes.length && (bytes(m) & 0xff) == 0xff) m += 1
        if (m >= bytes.length) return None
        val marker = bytes(m) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (m + 7 >= bytes.length) return None
          val h = be16(m + 4); val w = be16(m + 6)
          return if (w > 0 && h > 0) Some((w, h, true)) else None
        }
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01)
          i = m + 1 // no-payload markers
        else {
          if (m + 2 >= bytes.length) return None
          i = m + 1 + be16(m + 1) // length field includes its own 2 bytes
        }
      }
      None
    } else None
  }

  /** Cheap structural completeness check for the header-probe fast path:
    * a PNG must end with the fixed 12-byte IEND chunk; a JPEG must carry
    * an EOI marker (FF D9) within its last 64 bytes (trailing junk after
    * EOI is common in the wild; a conforming encoder ends exactly there).
    * Catches TRUNCATION — the corruption class real crawls and the fuzz
    * battery actually produce — without touching pixel data. A payload
    * that fails this check falls back to the full decode, which throws on
    * genuinely broken bytes → typed error row. */
  def trailerOk(bytes: Array[Byte]): Boolean = {
    val n = bytes.length
    if (n >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') {
      // the full fixed IEND chunk, anywhere in the last 512 bytes
      // (conforming encoders end exactly there; some files carry junk)
      val iend = Array[Int](0, 0, 0, 0, 'I', 'E', 'N', 'D', 0xae, 0x42, 0x60, 0x82)
      var i = n - 12
      val stop = math.max(0, n - 512)
      while (i >= stop) {
        var j = 0
        while (j < 12 && (bytes(i + j) & 0xff) == iend(j)) j += 1
        if (j == 12) return true
        i -= 1
      }
      false
    } else {
      var i = n - 2
      val stop = math.max(0, n - 512)
      while (i >= stop) {
        if ((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd9) return true
        i -= 1
      }
      false
    }
  }

  /** Decode PNG/JPEG bytes; throws on undecodable payloads (callers fall
    * back to the placeholder URI). */
  def decode(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException("undecodable raster")
    img
  }

  /** PIL `Image.crop((x1, y1, x2, y2))` semantics on an RGB view: output
    * is (x2-x1)×(y2-y1); pixels outside the source image are black (PIL
    * zero-fills out-of-bounds regions); degenerate boxes (x2<=x1 or
    * y2<=y1) are rejected — post_process_cells' is_legal_bbox guarantees
    * they never reach rendering on the trusted path. */
  def pilCrop(img: BufferedImage, x1: Int, y1: Int, x2: Int, y2: Int): BufferedImage = {
    require(x2 > x1 && y2 > y1, s"degenerate crop box ($x1,$y1,$x2,$y2)")
    val w = x2 - x1
    val h = y2 - y1
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val sx1 = math.max(x1, 0); val sy1 = math.max(y1, 0)
    val sx2 = math.min(x2, img.getWidth); val sy2 = math.min(y2, img.getHeight)
    val cw = sx2 - sx1; val ch = sy2 - sy1
    if (cw > 0 && ch > 0) {
      // bulk row transfer (single colormodel conversion pass) — per-pixel
      // getRGB/setRGB was the extraction hot path in thread samples
      val px = img.getRGB(sx1, sy1, cw, ch, null, 0, cw)
      var i = 0
      while (i < px.length) { px(i) &= 0xffffff; i += 1 }
      out.setRGB(sx1 - x1, sy1 - y1, cw, ch, px, 0, cw)
    }
    out
  }

  /** `data:image/png;base64,...` of the image (PILimage_to_base64 shape). */
  def pngDataUri(img: BufferedImage): String = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    "data:image/png;base64," + java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  // JDK 17 PNGImageWriter constants for a TYPE_INT_RGB image
  private val PngSignature = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  private val WriterDeflateLevel = 4
  private val WriterIdatChunk = 32768
  // raw (inflated) sizes above this take the ImageIO path, which then
  // behaves exactly as before on such inputs
  private val MaxRawBytes = 1L << 28

  /** A page raster decoded by the direct path: `height` rows of
    * `1 + 3 × width` bytes, the PNG filter byte (0) then packed 8-bit RGB. */
  final class RgbRows private[Raster] (width: Int, height: Int, rows: Array[Byte]) {
    private val rowLen = 1 + 3 * width

    /** The crop's `data:image/png;base64,...` URI, byte-identical to
      * `pngDataUri(pilCrop(decode(png), x1, y1, x2, y2))`; None for a
      * degenerate or oversized box, which the ImageIO path then handles. */
    def cropDataUri(x1: Int, y1: Int, x2: Int, y2: Int): Option[String] = {
      val w = x2.toLong - x1; val h = y2.toLong - y1
      if (w <= 0 || h <= 0 || w > MaxRawBytes || h > MaxRawBytes || (1 + 3 * w) * h > MaxRawBytes)
        return None
      val outLen = 1 + 3 * w.toInt
      // filter byte 0 on every row; out-of-bounds pixels stay zero (PIL)
      val raw = new Array[Byte](outLen * h.toInt)
      val sx1 = math.max(x1, 0); val sx2 = math.min(x2, width)
      val sy1 = math.max(y1, 0); val sy2 = math.min(y2, height)
      if (sx2 > sx1 && sy2 > sy1) {
        val n = 3 * (sx2 - sx1)
        var y = sy1
        while (y < sy2) {
          System.arraycopy(rows, y * rowLen + 1 + 3 * sx1,
            raw, (y - y1) * outLen + 1 + 3 * (sx1 - x1), n)
          y += 1
        }
      }
      Some("data:image/png;base64," +
        java.util.Base64.getEncoder.encodeToString(encodeRgbPng(w.toInt, h.toInt, raw)))
    }
  }

  /** Direct-path decode (see the object doc for the accept rule); None
    * for any other input, which the ImageIO path then handles. */
  def decodeRgb(png: Array[Byte]): Option[RgbRows] =
    try decodeStrict(png) catch { case _: DataFormatException => None }

  private def decodeStrict(b: Array[Byte]): Option[RgbRows] = {
    val n = b.length
    if (n < 8 || !java.util.Arrays.equals(b, 0, 8, PngSignature, 0, 8)) return None
    def be32(i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    def isType(i: Int, t: String): Boolean =
      b(i) == t(0) && b(i + 1) == t(1) && b(i + 2) == t(2) && b(i + 3) == t(3)
    val crc = new CRC32
    var width, height = 0
    var raw: Array[Byte] = null
    var filled = 0
    val probe = new Array[Byte](1)
    val inf = new Inflater()
    try {
      var p = 8
      var seenIdat, seenIend = false
      while (p < n) {
        if (seenIend || n - p < 12) return None
        val len = be32(p)
        if (len < 0 || len > n - p - 12) return None
        crc.reset(); crc.update(b, p + 4, len + 4)
        if (crc.getValue.toInt != be32(p + 8 + len)) return None
        val d = p + 8
        if (p == 8) {
          // IHDR: colour type 2 (RGB), depth 8, no interlace
          if (!isType(p + 4, "IHDR") || len != 13) return None
          width = be32(d); height = be32(d + 4)
          if (width <= 0 || height <= 0 || b(d + 8) != 8 || b(d + 9) != 2 ||
            b(d + 10) != 0 || b(d + 11) != 0 || b(d + 12) != 0) return None
          val rawLen = height.toLong * (1 + 3L * width)
          if (rawLen > MaxRawBytes) return None
          raw = new Array[Byte](rawLen.toInt)
        } else if (isType(p + 4, "IDAT")) {
          if (inf.finished()) return None // IDAT data past the zlib stream's end
          seenIdat = true
          inf.setInput(b, d, len)
          while (!inf.finished() && !inf.needsInput()) {
            val k =
              if (filled < raw.length) inf.inflate(raw, filled, raw.length - filled)
              else if (inf.inflate(probe) > 0) return None // more than H × (1 + stride)
              else 0 // the stream's end-of-block code and Adler-32 trailer
            if (k == 0 && !inf.finished() && !inf.needsInput()) return None // dictionary
            filled += k
          }
        } else if (isType(p + 4, "IEND")) {
          if (len != 0 || !seenIdat) return None
          seenIend = true
        } else return None
        p += 12 + len
      }
      if (!seenIend || !inf.finished() || inf.getRemaining != 0 || filled != raw.length) return None
    } finally inf.end()
    // filter None on every row, so the inflated rows already are RgbRows'
    // layout (filter byte, then packed RGB)
    val rowLen = 1 + 3 * width
    var y = 0
    while (y < height) {
      if (raw(y * rowLen) != 0) return None
      y += 1
    }
    Some(new RgbRows(width, height, raw))
  }

  /** PNG bytes of a `width`×`height` RGB image whose rows (each led by its
    * filter byte 0) are `raw`, laid out as JDK 17's PNGImageWriter does. */
  private def encodeRgbPng(width: Int, height: Int, raw: Array[Byte]): Array[Byte] = {
    val deflater = new Deflater(WriterDeflateLevel)
    var z = new Array[Byte](raw.length / 4 + 64)
    var zLen = 0
    try {
      deflater.setInput(raw)
      deflater.finish()
      while (!deflater.finished()) {
        if (zLen == z.length) z = java.util.Arrays.copyOf(z, z.length * 2)
        zLen += deflater.deflate(z, zLen, z.length - zLen)
      }
    } finally deflater.end()
    val nIdat = (zLen + WriterIdatChunk - 1) / WriterIdatChunk
    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 * nIdat + zLen + 12).put(PngSignature)
    val crc = new CRC32
    def chunk(tpe: String, data: Array[Byte], off: Int, len: Int): Unit = {
      val start = out.position()
      out.putInt(len).put(tpe.getBytes("US-ASCII")).put(data, off, len)
      crc.reset(); crc.update(out.array(), start + 4, len + 4)
      out.putInt(crc.getValue.toInt)
    }
    // depth 8, colour type 2 (RGB); compression, filter and interlace 0
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(width).putInt(height).put(8: Byte).put(2: Byte)
    chunk("IHDR", ihdr.array(), 0, 13)
    var off = 0
    while (off < zLen) {
      val k = math.min(WriterIdatChunk, zLen - off)
      chunk("IDAT", z, off, k)
      off += k
    }
    chunk("IEND", z, 0, 0)
    out.array()
  }
}
