package perfbench

import graft.core.{PageDoc, ParsedPage, PromptMode}
import graft.kernel._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** In-memory spans: name, start, end and parent, written out at the end of
  * the run. A span's self time is its duration minus its children's. */
final class Tracer {
  private val names = ArrayBuffer.empty[String]
  private val starts = ArrayBuffer.empty[Long]
  private val ends = ArrayBuffer.empty[Long]
  private val parents = ArrayBuffer.empty[Int]
  private var open = -1

  def span[A](name: String)(body: => A): A = {
    val id = names.length
    names += name; starts += System.nanoTime(); ends += 0L; parents += open
    val outer = open
    open = id
    try body
    finally { ends(id) = System.nanoTime(); open = outer }
  }

  /** Renames span `id` (a root whose name is known only at its end). */
  def rename(id: Int, name: String): Unit = names(id) = name
  def size: Int = names.length
  def nameOf(id: Int): String = names(id)

  /** Time the direct children of span `id` cover, in ns. */
  def childrenNs(id: Int): Long = {
    var sum = 0L
    var i = id + 1
    while (i < names.length) { if (parents(i) == id) sum += ends(i) - starts(i); i += 1 }
    sum
  }

  def clear(): Unit = { names.clear(); starts.clear(); ends.clear(); parents.clear() }

  def selfNs: Array[Long] = {
    val self = Array.tabulate(names.length)(i => ends(i) - starts(i))
    for (i <- names.indices if parents(i) >= 0) self(parents(i)) -= ends(i) - starts(i)
    self
  }

  /** Self time per span name, in ns. */
  def selfByName: Map[String, Long] = {
    val self = selfNs
    names.indices.groupMapReduce(names(_))(self(_))(_ + _)
  }

  def write(path: Path): Unit = {
    val self = selfNs
    val sb = new java.lang.StringBuilder("span\tparent\tname\tstart_ns\tend_ns\tself_ns\n")
    for (i <- names.indices)
      sb.append(i).append('\t').append(parents(i)).append('\t').append(names(i)).append('\t')
        .append(starts(i)).append('\t').append(ends(i)).append('\t').append(self(i)).append('\n')
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb)
  }
}

/** A single-thread loop over a workload's documents, outside Spark.
  *
  * Each document is parsed twice: once by `ExtractKernel.parseDoc` (the
  * whole-branch time) and once by [[tracedParse]], which calls the kernel's
  * public functions in `parseDoc`'s order under a span per layer. Both must
  * give the same rows. What the layer spans do not cover is the root
  * span's self time: the private glue inside `parseDoc`. */
object KernelTrace {

  val Branches = Vector("html", "pdf", "image", "garbled", "error")
  val Layers = Vector("kernel.sniff", "kernel.html.decode", "kernel.html.dom",
    "kernel.html.classify", "kernel.pdf.parse", "kernel.pdf.layout", "kernel.image.layout",
    "kernel.cells", "kernel.json", "kernel.md", "kernel.repair")
  /** The private steps of `parseDoc` no public function exposes. */
  val Residual = "parseDoc glue: pdfDocOf, slicePages, parseLayout, finishLayoutTrusted, renderParsed, cellTexts"

  private val Mode = PromptMode.LayoutAll

  private def errorRow(url: String, pageNo: Int, error: String) =
    ParsedPage(url, pageNo, 0, 0, 0, 0, "", "", "", "", filtered = false, error = error)

  private def thrown(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** `parseDoc` rebuilt from public kernel functions, one span per layer.
    * Returns the branch the document took and its rows. */
  def tracedParse(doc: PageDoc, t: Tracer): (String, Vector[ParsedPage]) = {
    val bytes = doc.html
    val pdfMagic = t.span("kernel.sniff") {
      bytes != null && bytes.nonEmpty && (ExtractKernel.isRealPdf(bytes) || PdfLite.isPdfLite(bytes))
    }
    if (!pdfMagic) viaPages(doc, t)
    else {
      val pdf = t.span("kernel.pdf.parse") {
        try Right(if (ExtractKernel.isRealPdf(bytes)) PdfReal.parse(bytes) else PdfLite.parse(bytes))
        catch { case NonFatal(e) => Left(e) }
      }
      pdf match {
        case Right(d) if d.pages.nonEmpty =>
          "pdf" -> d.pages.zipWithIndex.map { case (p, i) =>
            try layoutTail(doc.url, i, t.span("kernel.pdf.layout")(PdfLite.pageToLayout(p)), t)
            catch { case e: Exception => errorRow(doc.url, i, thrown(e)) }
          }
        case _ =>
          // the error row comes from re-running the fan-out, as parseDoc does
          "error" -> t.span("kernel.pdf.parse")(ExtractKernel.fanOut(doc))
            .map(ExtractKernel.parsePage(_, Mode))
      }
    }
  }

  /** `fanOut` + `parsePage` for a payload without PDF magic. */
  private def viaPages(doc: PageDoc, t: Tracer): (String, Vector[ParsedPage]) = {
    val url = doc.url
    val decoded = t.span("kernel.sniff")(ExtractKernel.decodePayload(doc.html))
    val b = decoded match {
      case Left(err) => return "error" -> Vector(errorRow(url, 0, err))
      case Right(b)  => b
    }
    if (b == null || b.isEmpty) return "error" -> Vector(errorRow(url, 0, "empty payload"))
    val kind = t.span("kernel.sniff") {
      if (ExtractKernel.isRealPdf(b) || PdfLite.isPdfLite(b)) "pdf"
      else if (ExtractKernel.isImage(b)) "image"
      else if (ExtractKernel.looksLikeHtml(b)) "html"
      else "garbled"
    }
    val row =
      try kind match {
        case "pdf" => // a compressed PDF: parseDoc takes the page fan-out
          return "pdf" -> t.span("kernel.pdf.parse")(ExtractKernel.fanOut(doc))
            .map(ExtractKernel.parsePage(_, Mode))
        case "garbled" =>
          finishLayout(url, 0, new String(b, StandardCharsets.UTF_8), 1280, 960, 1280, 960, None, t)
        case "image" =>
          val layout =
            try t.span("kernel.image.layout")(ExtractKernel.imageToLayout(b))
            catch {
              case NonFatal(e) => return "error" -> Vector(errorRow(url, 0,
                s"unsupported_format: image payload (${e.getClass.getSimpleName})"))
            }
          layoutTail(url, 0, layout, t)
        case _ =>
          val html = t.span("kernel.html.decode")(HtmlDom.decodeBytes(b))
          val root = t.span("kernel.html.dom")(HtmlDom.parse(html))
          layoutTail(url, 0, t.span("kernel.html.classify")(HtmlExtract.extractFromDom(root)), t)
      } catch { case e: Exception => errorRow(url, 0, thrown(e)) }
    (if (row.error.nonEmpty) "error" else kind) -> Vector(row)
  }

  /** Input geometry, classifier cells and rendering of one page layout. */
  private def layoutTail(url: String, pageNo: Int, layout: HtmlExtract.PageLayout, t: Tracer): ParsedPage = {
    val (srcH, srcW) = layout.renderDims.getOrElse((layout.height, layout.width))
    val (ih, iw, cells) = t.span("kernel.cells") {
      val (ih, iw) = Geometry.smartResize(srcH, srcW)
      (ih, iw, ExtractKernel.classifierCells(layout, Mode, iw, ih))
    }
    try {
      val scaled = t.span("kernel.cells")(
        BboxScale.postProcessCells(layout.width, layout.height, cells, iw, ih))
      render(url, pageNo, scaled, layout.width, layout.height, iw, ih, layout.raster, t)
    } catch {
      case _: BboxScale.KernelError | _: Geometry.AspectRatioError =>
        finishLayout(url, pageNo, t.span("kernel.json")(PyJson.dumps(JArray(cells))),
          layout.width, layout.height, iw, ih, layout.raster, t)
    }
  }

  private def render(url: String, pageNo: Int, cells: Vector[JValue], originW: Long, originH: Long,
      inputW: Long, inputH: Long, raster: Option[scala.collection.immutable.ArraySeq[Byte]],
      t: Tracer): ParsedPage = {
    val cellsJson = t.span("kernel.json")(PyJson.dumps(JArray(cells)))
    val (md, mdNohf) = t.span("kernel.md") {
      val segs = MdRender.renderSegments(cells, raster = raster)
      (MdRender.segmentsToMd(segs, noPageHf = false), MdRender.segmentsToMd(segs, noPageHf = true))
    }
    val extracted = ExtractKernel.cellTexts(cells, includeHf = false).mkString("\n\n")
    ParsedPage(url, pageNo, inputH.toInt, inputW.toInt, originH.toInt, originW.toInt,
      cellsJson, md, mdNohf, extracted, filtered = false, error = "")
  }

  private def finishLayout(url: String, pageNo: Int, response: String, originW: Long, originH: Long,
      inputW: Long, inputH: Long, raster: Option[scala.collection.immutable.ArraySeq[Byte]],
      t: Tracer): ParsedPage =
    t.span("kernel.repair")(OutputRepair.postProcessOutput(response, originW, originH, inputW, inputH)) match {
      case OutputRepair.ParsedCells(cells) =>
        render(url, pageNo, cells, originW, originH, inputW, inputH, raster, t)
      case OutputRepair.Filtered(text) =>
        ParsedPage(url, pageNo, inputH.toInt, inputW.toInt, originH.toInt, originW.toInt,
          cells_json = t.span("kernel.json")(PyJson.dumps(JString(response))),
          md = text, md_nohf = text, extracted_text = text, filtered = true, error = "")
    }

  /** What the loop measured. `mismatches` counts documents whose traced
    * rows differ from `parseDoc`'s. */
  final case class Result(metrics: Map[String, Double], mismatches: Int)

  /** Loops over `docs` until `seconds` have passed (after one untimed
    * pass), then writes the spans to `spansOut`. Whole-branch and layer
    * times are µs per document that ran them; counts are per pass. */
  def run(docs: Vector[PageDoc], seconds: Double, spansOut: Path): Result = {
    val t = new Tracer
    val nb = Branches.length
    val wholeNs, layerNs, docCount = Array.fill(nb)(0L)
    val layerDocs = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var pages = 0L
    var mismatches = 0

    def pass(): Unit = docs.foreach { d =>
      val t0 = System.nanoTime()
      val expected = ExtractKernel.parseDoc(d, Mode)
      val whole = System.nanoTime() - t0
      val root = t.size
      val (branch, rows) = t.span("kernel.doc")(tracedParse(d, t))
      t.rename(root, s"kernel.doc.$branch")
      if (rows != expected) mismatches += 1
      val b = Branches.indexOf(branch)
      wholeNs(b) += whole
      layerNs(b) += t.childrenNs(root)
      docCount(b) += 1
      pages += rows.length
      (root + 1 until t.size).map(t.nameOf).distinct.foreach(n => layerDocs(n) += 1)
    }

    pass() // warm-up, then start the measured spans afresh
    t.clear(); java.util.Arrays.fill(wholeNs, 0L); java.util.Arrays.fill(layerNs, 0L)
    java.util.Arrays.fill(docCount, 0L); layerDocs.clear(); pages = 0L
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { pass(); passes += 1 }
    t.write(spansOut)

    def us(ns: Long, n: Long) = if (n == 0) 0.0 else ns / 1e3 / n
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val selfNs = t.selfByName.withDefaultValue(0L)
    val m = Map.newBuilder[String, Double]
    for ((b, i) <- Branches.zipWithIndex) {
      m += s"kernel.${b}_us" -> us(wholeNs(i), docCount(i))
      m += s"kernel.${b}_docs" -> docCount(i).toDouble / passes
      m += s"kernel.$b.layer_sum_ratio" -> ratio(layerNs(i), wholeNs(i))
    }
    m += "kernel.pages" -> pages.toDouble / passes
    for (l <- Layers) m += s"${l}_us" -> us(selfNs(l), layerDocs(l))
    m += "kernel.layer_sum_ratio" -> ratio(layerNs.sum, wholeNs.sum)
    Result(m.result(), mismatches)
  }
}
