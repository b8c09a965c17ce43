package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Byte-identity suites against goldens produced by tools/gen_goldens.py,
  * which runs the reference's own Python functions (SURVEY.md §5.1). */
object Golden {
  def rows(name: String): Vector[JObject] = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    require(in != null, s"missing golden resource $name — run tools/gen_goldens.py")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(l => PyJson.parse(l).asInstanceOf[JObject]).toVector
    finally src.close()
  }
  def str(o: JObject, k: String): String = o.get(k).get.asInstanceOf[JString].value
  def long(o: JObject, k: String): Long = o.get(k).get.asInstanceOf[JInt].value.toLong
  def strOpt(o: JObject, k: String): Option[String] =
    o.get(k).collect { case JString(s) => s }
}

class GeometryGoldenSpec extends AnyFunSuite {
  import Golden._

  test("smart_resize matches reference byte-for-byte") {
    val cases = rows("smart_resize.jsonl")
    assert(cases.nonEmpty)
    cases.foreach { c =>
      val (h, w) = (long(c, "h"), long(c, "w"))
      val (fac, mn, mx) = (long(c, "factor"), long(c, "min_pixels"), long(c, "max_pixels"))
      if (c.has("error")) {
        intercept[Geometry.AspectRatioError] {
          Geometry.smartResize(h, w, fac, mn, mx)
        }
      } else {
        val got = Geometry.smartResize(h, w, fac, mn, mx)
        assert(got == (long(c, "h_bar"), long(c, "w_bar")), s"case $c")
      }
    }
  }

  test("round_by_factor is half-to-even like CPython round()") {
    rows("round_by_factor.jsonl").foreach { c =>
      assert(Geometry.roundByFactor(long(c, "n").toDouble, long(c, "f")) == long(c, "out"), s"case $c")
    }
  }
}

class BboxGoldenSpec extends AnyFunSuite {
  import Golden._

  test("pre/post bbox rescale matches reference") {
    rows("bbox_rescale.jsonl").foreach { c =>
      val (ow, oh, iw, ih) = (long(c, "ow"), long(c, "oh"), long(c, "iw"), long(c, "ih"))
      str(c, "kind") match {
        case "pre" =>
          val bbox = c.get("bbox").get.asInstanceOf[JArray].items
          val got = BboxScale.preProcessBboxes(ow, oh, Vector(bbox), iw, ih).head
          val want = c.get("out").get.asInstanceOf[JArray].items.map(_.asInstanceOf[JInt].value)
          assert(got == want, s"case $c")
        case "post" =>
          val bbox = c.get("bbox").get.asInstanceOf[JArray].items
          val cell = JObject("bbox" -> JArray(bbox), "category" -> JString("Text"), "text" -> JString("t"))
          val got = BboxScale.postProcessCells(ow, oh, Vector(cell), iw, ih)
          val gotBbox = got.head.asInstanceOf[JObject].get("bbox").get.asInstanceOf[JArray]
            .items.map(_.asInstanceOf[JInt].value)
          val want = c.get("out").get.asInstanceOf[JArray].items.map(_.asInstanceOf[JInt].value)
          assert(gotBbox == want, s"case $c")
        case "post_raw" =>
          val cells = c.get("cells").get.asInstanceOf[JArray].items
          val got = BboxScale.postProcessCells(ow, oh, cells, iw, ih)
          assert(PyJson.dumps(JArray(got)) == str(c, "out_json"), s"case $c")
      }
    }
  }
}

class CleanerGoldenSpec extends AnyFunSuite {
  import Golden._

  test("clean_model_output matches reference byte-for-byte") {
    rows("cleaner.jsonl").foreach { c =>
      val input: Either[Vector[JValue], String] = strOpt(c, "input_list_json") match {
        case Some(lst) => Left(PyJson.parse(lst).asInstanceOf[JArray].items)
        case None      => Right(str(c, "input"))
      }
      val got = OutputRepair.cleanModelOutput(input)
      assert(PyJson.dumps(JArray(got)) == str(c, "out_json"), s"case ${PyJson.dumps(c)}")
    }
  }
}

class FormulaGoldenSpec extends AnyFunSuite {
  import Golden._

  test("formula/clean_text/has_latex match reference") {
    rows("formula_md.jsonl").foreach { c =>
      strOpt(c, "kind") match {
        case Some("has_latex") =>
          val want = c.get("out").get.asInstanceOf[JBool].value
          assert(MdRender.hasLatexMarkdown(str(c, "input")) == want, s"case $c")
        case Some("clean_text") =>
          assert(MdRender.cleanText(str(c, "input")) == str(c, "out"), s"case $c")
        case _ =>
          if (c.has("error"))
            intercept[BboxScale.KernelError](MdRender.formulaInMarkdown(str(c, "input")))
          else
            assert(MdRender.formulaInMarkdown(str(c, "input")) == str(c, "out"), s"case $c")
      }
    }
  }
}

class Layout2MdGoldenSpec extends AnyFunSuite {
  import Golden._

  test("layoutjson2md matches reference (md and md_nohf)") {
    rows("layout2md.jsonl").foreach { c =>
      val cells = PyJson.parse(str(c, "cells_json")).asInstanceOf[JArray].items
      assert(MdRender.layoutJsonToMd(cells) == str(c, "md"), "md mismatch")
      assert(MdRender.layoutJsonToMd(cells, noPageHf = true) == str(c, "md_nohf"), "md_nohf mismatch")
    }
  }

  test("raster-backed Picture cell embeds a REAL crop (decodes to bbox dims, pixel-exact region)") {
    import scala.collection.immutable.ArraySeq
    val img = graft.ops.MultimodalOps.patternImage(120, 90, 11L)
    val png = graft.ops.MultimodalOps.Codec.encodePng(img)
    val cells = Vector(
      JObject(
        "bbox" -> JArray(Vector(10, 20, 70, 60).map(i => JInt(BigInt(i)))),
        "category" -> JString("Picture")),
      JObject(
        "bbox" -> JArray(Vector(10, 62, 110, 80).map(i => JInt(BigInt(i)))),
        "category" -> JString("Text"), "text" -> JString("caption")))
    val md = MdRender.layoutJsonToMd(cells, raster = Some(ArraySeq.unsafeWrapArray(png)))
    val Uri = "!\\[\\]\\((data:image/png;base64,[^)]+)\\)".r
    val uri = Uri.findFirstMatchIn(md).map(_.group(1)).getOrElse(fail("no data URI in md"))
    val cropBytes = java.util.Base64.getDecoder.decode(uri.stripPrefix("data:image/png;base64,"))
    val crop = Raster.decode(cropBytes)
    assert(crop.getWidth == 60 && crop.getHeight == 40, "crop dims = bbox dims")
    // pixel-exact vs the source region (reference image.crop semantics)
    for (y <- 0 until 40; x <- 0 until 60)
      assert((crop.getRGB(x, y) & 0xffffff) == (img.getRGB(x + 10, y + 20) & 0xffffff),
        s"pixel ($x,$y)")
    // same cells WITHOUT a raster: deterministic placeholder URI, not a crop
    val mdNoRaster = MdRender.layoutJsonToMd(cells)
    assert(mdNoRaster.contains(MdRender.picturePlaceholder(10, 20, 70, 60)))
  }

  test("two partial Picture cells on one raster: both crops pixel-exact, page inflated once") {
    import scala.collection.immutable.ArraySeq
    val img = graft.gen.InputGen.corpusImage(300, 400, 11L)
    val png = graft.ops.MultimodalOps.Codec.encodePng(img)
    val boxes = Vector((55, 94, 244, 266), (8, 280, 120, 390))
    val cells = boxes.map { case (a, b, c, d) =>
      JObject("bbox" -> JArray(Vector(a, b, c, d).map(i => JInt(BigInt(i)))),
        "category" -> JString("Picture"))
    } :+ JObject("bbox" -> JArray(Vector(8, 392, 290, 398).map(i => JInt(BigInt(i)))),
      "category" -> JString("Caption"), "text" -> JString("two figures"))
    var decodes = 0
    val segs = MdRender.layoutJsonToMdImpl(cells, "text", noPageHf = false,
      Some(ArraySeq.unsafeWrapArray(png)),
      decodePage = b => { decodes += 1; Raster.decodeRgb(b) })
    assert(decodes == 1, "the page raster is inflated once, not once per cell")
    assert(segs == MdRender.renderSegments(cells, raster = Some(ArraySeq.unsafeWrapArray(png))))
    val prefix = "![](data:image/png;base64,"
    boxes.zip(segs).foreach { case ((x1, y1, x2, y2), (category, md)) =>
      assert(category == "Picture" && md.startsWith(prefix) && md.endsWith(")"))
      val crop = Raster.decode(java.util.Base64.getDecoder.decode(md.substring(prefix.length, md.length - 1)))
      assert(crop.getWidth == x2 - x1 && crop.getHeight == y2 - y1, "crop dims = bbox dims")
      for (y <- y1 until y2; x <- x1 until x2)
        assert((crop.getRGB(x - x1, y - y1) & 0xffffff) == (img.getRGB(x, y) & 0xffffff), s"pixel ($x,$y)")
    }
  }

  test("raster crop: out-of-bounds region zero-fills (PIL semantics); undecodable raster falls back to placeholder") {
    import scala.collection.immutable.ArraySeq
    val img = graft.ops.MultimodalOps.patternImage(50, 50, 3L)
    val cropped = Raster.pilCrop(img, 40, 40, 60, 60)
    assert(cropped.getWidth == 20 && cropped.getHeight == 20)
    assert((cropped.getRGB(5, 5) & 0xffffff) == (img.getRGB(45, 45) & 0xffffff))
    assert((cropped.getRGB(15, 15) & 0xffffff) == 0, "outside source = black")
    val cells = Vector(JObject(
      "bbox" -> JArray(Vector(0, 0, 10, 10).map(i => JInt(BigInt(i)))),
      "category" -> JString("Picture")))
    val md = MdRender.layoutJsonToMd(cells,
      raster = Some(ArraySeq.unsafeWrapArray("not a png".getBytes)))
    assert(md.contains(MdRender.picturePlaceholder(0, 0, 10, 10)))
  }
}

class PostProcessGoldenSpec extends AnyFunSuite {
  import Golden._

  test("post_process_output end-to-end matches reference") {
    rows("post_process_output.jsonl").foreach { c =>
      val got = OutputRepair.postProcessOutput(
        str(c, "response"), long(c, "ow"), long(c, "oh"), long(c, "iw"), long(c, "ih"))
      val wantFiltered = c.get("filtered").get.asInstanceOf[JBool].value
      got match {
        case OutputRepair.ParsedCells(cells) =>
          assert(!wantFiltered, s"expected filtered for ${str(c, "response")}")
          assert(PyJson.dumps(JArray(cells)) == str(c, "out"), s"case ${PyJson.dumps(c)}")
        case OutputRepair.Filtered(text) =>
          assert(wantFiltered, s"unexpected filtered for ${str(c, "response")}")
          assert(text == str(c, "out"), s"case ${PyJson.dumps(c)}")
      }
    }
  }
}

class FloatReprSpec extends AnyFunSuite {
  import Golden._

  test("pyFloatRepr matches CPython repr/json.dumps") {
    rows("float_repr.jsonl").foreach { c =>
      val d = java.lang.Double.parseDouble(str(c, "in_hex"))
      assert(PyJson.pyFloatRepr(d) == str(c, "repr"), s"case $c")
      assert(PyJson.dumps(JDouble(d)) == str(c, "dumps"), s"case $c")
    }
  }
}
