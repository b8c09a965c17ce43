package graft.kernel

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import scala.collection.immutable.ArraySeq
import graft.gen.InputGen
import graft.ops.MultimodalOps
import org.scalatest.funsuite.AnyFunSuite

/** The direct PNG crop path (Raster.decodeRgb + RgbRows.cropDataUri) must
  * produce the same data URI, byte for byte, as the ImageIO path it
  * replaces: `pngDataUri(pilCrop(decode(png), box))`. The comparison runs
  * against the live `ImageIO.write`, so a JDK whose PNG writer changes its
  * layout fails here instead of drifting. Every input the direct path
  * declines must render exactly the md the ImageIO path alone renders. */
class RasterCropSpec extends AnyFunSuite {

  private def imageIoUri(png: Array[Byte], b: (Int, Int, Int, Int)): String =
    Raster.pngDataUri(Raster.pilCrop(Raster.decode(png), b._1, b._2, b._3, b._4))

  private def assertSameCrops(png: Array[Byte], boxes: Seq[(Int, Int, Int, Int)]): Unit = {
    val rows = Raster.decodeRgb(png).getOrElse(fail("direct path declined a plain RGB PNG"))
    boxes.foreach { b =>
      assert(rows.cropDataUri(b._1, b._2, b._3, b._4).contains(imageIoUri(png, b)), s"box $b")
    }
  }

  /** Full page, 1×1 corners, straddling and fully outside boxes. */
  private def boxesFor(w: Int, h: Int): Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, w, h), (0, 0, 1, 1), (w - 1, h - 1, w, h), (w / 3, h / 4, w / 3 + 1, h / 4 + 1),
    (w / 5, h / 6, w - w / 7, h - h / 8), (-7, -5, w / 2, h / 2), (w / 2, h / 2, w + 9, h + 11),
    (-3, -4, w + 5, h + 6), (w + 2, h + 2, w + 12, h + 7), (-20, 3, -1, 9))

  private def encode(img: BufferedImage, format: String = "png"): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, bos))
    bos.toByteArray
  }

  private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + data.length)
    bb.putInt(data.length).put(tpe.getBytes("US-ASCII")).put(data)
    val crc = new CRC32
    crc.update(bb.array(), 4, 4 + data.length)
    bb.putInt(crc.getValue.toInt).array()
  }

  private def ihdr(w: Int, h: Int, depth: Int, colorType: Int, interlace: Int = 0): Array[Byte] =
    java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(colorType.toByte).put(0: Byte).put(0: Byte).put(interlace.toByte).array()

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** PNG from its chunks (signature prepended). */
  private def pngOf(chunks: Array[Byte]*): Array[Byte] =
    Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a) ++ chunks.flatten

  /** Filter one row of `bpp`-byte pixels with PNG filter `f` (0–4). */
  private def filterRow(f: Int, cur: Array[Byte], prev: Array[Byte], bpp: Int): Array[Byte] = {
    def at(a: Array[Byte], i: Int): Int = if (i >= 0) a(i) & 0xff else 0
    val out = new Array[Byte](1 + cur.length)
    out(0) = f.toByte
    for (i <- cur.indices) {
      val (a, b, c) = (at(cur, i - bpp), at(prev, i), at(prev, i - bpp))
      val pred = f match {
        case 0 => 0
        case 1 => a
        case 2 => b
        case 3 => (a + b) >>> 1
        case _ =>
          val (pa, pb, pc) = (math.abs(b - c), math.abs(a - c), math.abs(a + b - 2 * c))
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      out(i + 1) = ((cur(i) & 0xff) - pred).toByte
    }
    out
  }

  /** Hand-built 8-bit RGB/RGBA PNG whose row `y` uses filter `filterOf(y)`;
    * the direct path takes only the all-filter-0 RGB one. */
  private def filteredPng(w: Int, h: Int, bpp: Int, seed: Long, filterOf: Int => Int): Array[Byte] = {
    val rng = new scala.util.Random(seed)
    val rows = Array.tabulate(h, w * bpp) { (y, i) =>
      // even rows: a noisy gradient; odd rows: four levels, so Paeth's
      // three distances tie often and its tie-break order matters
      (if (y % 2 == 0) (i * 7 + y * 3 + rng.nextInt(5)) & 0xff else 40 * rng.nextInt(4)).toByte
    }
    val raw = rows.indices.flatMap { y =>
      filterRow(filterOf(y), rows(y), if (y == 0) new Array[Byte](w * bpp) else rows(y - 1), bpp)
    }.toArray
    pngOf(chunk("IHDR", ihdr(w, h, 8, if (bpp == 3) 2 else 6)), chunk("IDAT", zlib(raw)),
      chunk("IEND", Array.emptyByteArray))
  }

  test("generator page rasters: direct crop URI == ImageIO crop URI, byte for byte") {
    for (seed <- Seq(11L, 42L, 7777L); (w, h) <- Seq((300, 400), (160, 120), (37, 53))) {
      val png = MultimodalOps.Codec.encodePng(InputGen.corpusImage(w, h, seed))
      assertSameCrops(png, boxesFor(w, h))
    }
    // the generator's Picture block (20,34)–(88,96) pts at dpi 200
    val png = MultimodalOps.Codec.encodePng(InputGen.corpusImage(300, 400, 11L))
    assertSameCrops(png, Seq((55, 94, 244, 266)))
  }

  test("noise image spanning several IDAT chunks, and a hand-built filter-0 RGB PNG") {
    val noise = MultimodalOps.Codec.encodePng(MultimodalOps.patternImage(260, 240, 5L))
    val idats = noise.indices.count(i => i + 4 <= noise.length &&
      new String(noise, i, 4, "US-ASCII") == "IDAT")
    assert(idats > 1, "noise PNG must span more than one IDAT chunk")
    assertSameCrops(noise, boxesFor(260, 240))
    assertSameCrops(filteredPng(23, 19, 3, 0L, _ => 0), boxesFor(23, 19))
  }

  test("declined rasters render exactly the ImageIO path's md") {
    val img = InputGen.corpusImage(120, 90, 3L)
    val good = MultimodalOps.Codec.encodePng(img)
    val idatAt = good.indexOfSlice("IDAT".getBytes("US-ASCII")) - 4
    val idatLen = java.nio.ByteBuffer.wrap(good, idatAt, 4).getInt
    val idatData = good.slice(idatAt + 8, idatAt + 8 + idatLen)
    val head = good.take(idatAt)
    val iend = chunk("IEND", Array.emptyByteArray)

    def gray(tpe: Int): Array[Byte] = {
      val g = new BufferedImage(120, 90, tpe)
      g.getGraphics.drawImage(img, 0, 0, null)
      encode(g)
    }
    def interlaced(im: BufferedImage): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val bos = new ByteArrayOutputStream()
      val out = ImageIO.createImageOutputStream(bos)
      writer.setOutput(out)
      writer.write(null, new IIOImage(im, null, null), param)
      out.close(); writer.dispose()
      val png = bos.toByteArray
      assert(png(8 + 8 + 12) == 1, "interlace method 1")
      png
    }
    val rgb16 = {
      val raw = Array.tabulate(90)(y => 0.toByte +: Array.tabulate(120 * 6)(i => (i + y).toByte)).flatten
      pngOf(chunk("IHDR", ihdr(120, 90, 16, 2)), chunk("IDAT", zlib(raw)), iend)
    }
    val rgba = {
      val argb = new BufferedImage(120, 90, BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until 90; x <- 0 until 120)
        argb.setRGB(x, y, ((x * 37 + y * 11) << 24) | (x * 2 << 16) | (y * 3 << 8) | ((x ^ y) & 0xff))
      val png = encode(argb)
      assert(png(25) == 6, "RGBA colour type")
      png
    }
    val badCrc = good.clone()
    badCrc(idatAt + 8 + idatLen) = (badCrc(idatAt + 8 + idatLen) ^ 0x5a).toByte
    val declined = Seq(
      "truncated mid-IDAT" -> good.take(idatAt + 8 + idatLen / 2),
      "bad IDAT CRC" -> badCrc,
      "extra trailing zlib byte" -> (head ++ chunk("IDAT", idatData :+ 0.toByte) ++ iend),
      "IDAT chunks past the zlib stream's end" -> (head ++ chunk("IDAT", idatData) ++
        chunk("IDAT", Array[Byte](0)) ++ chunk("IDAT", Array.emptyByteArray) ++ iend),
      "RGBA" -> rgba,
      "hand-built RGBA, filter 0" -> filteredPng(120, 90, 4, 0L, _ => 0),
      "hand-built RGB, rows 1..4 filtered" -> filteredPng(120, 90, 3, 9L, y => y % 5),
      "interlaced" -> interlaced(img),
      // one pixel wide, Adam7 data has the plain layout's size, rows reordered
      "interlaced 1×9" -> interlaced(img.getSubimage(5, 0, 1, 9)),
      "palette" -> gray(BufferedImage.TYPE_BYTE_INDEXED),
      "gray" -> gray(BufferedImage.TYPE_BYTE_GRAY),
      "16-bit gray" -> gray(BufferedImage.TYPE_USHORT_GRAY),
      "16-bit RGB" -> rgb16,
      "gAMA chunk" -> (head.take(33) ++ chunk("gAMA", java.nio.ByteBuffer.allocate(4).putInt(45455).array())
        ++ head.drop(33) ++ good.drop(idatAt)),
      "JPEG" -> encode(img, "jpg"),
      "not an image" -> "not a png".getBytes("US-ASCII")) ++
      (1 to 4).map(f => s"hand-built RGB, filter $f" -> filteredPng(120, 90, 3, f.toLong, _ => f))
    val cells = Vector((10, 20, 70, 60), (-5, 30, 40, 95), (0, 0, 120, 90)).map { case (a, b, c, d) =>
      JObject("bbox" -> JArray(Vector(a, b, c, d).map(i => JInt(BigInt(i)))),
        "category" -> JString("Picture"))
    }
    declined.foreach { case (name, bytes) =>
      assert(Raster.decodeRgb(bytes).isEmpty, s"$name must be declined")
      val raster = Some(ArraySeq.unsafeWrapArray(bytes))
      val imageIoOnly = MdRender.layoutJsonToMdImpl(cells, "text", noPageHf = false, raster,
        decodePage = _ => None)
      assert(MdRender.renderSegments(cells, raster = raster) == imageIoOnly, name)
    }
    // the untouched PNG and its CRC-valid rebuild are accepted
    assert(Raster.decodeRgb(good).isDefined)
    assert(Raster.decodeRgb(head ++ chunk("IDAT", idatData) ++ iend).isDefined)
  }
}
