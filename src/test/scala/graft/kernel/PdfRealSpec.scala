package graft.kernel

import java.nio.charset.StandardCharsets

import graft.core.{Categories, PageDoc, PromptMode}
import graft.gen.PdfWrite
import org.scalatest.funsuite.AnyFunSuite

/** Real-PDF (`%PDF-`) text-layer parsing: the round-2 typed error row is
  * replaced by actual content for uncompressed/Flate text PDFs
  * (reference parses real PDFs first-class: doc_utils.py:42-60,
  * parser.py:307-312); everything outside the slice keeps the error row. */
class PdfRealSpec extends AnyFunSuite {

  private def doc(bytes: Array[Byte], url: String = "http://t/a.pdf") =
    PageDoc(url, java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), bytes, "", "en")

  private def page(lines: (Double, Double, String)*): PdfWrite.Page =
    PdfWrite.Page(612, 792, lines.toVector.map { case (x, y, t) => PdfWrite.TextLine(x, y, 12, t) })

  test("uncompressed text PDF extracts its text layer (not an error row)") {
    val bytes = PdfWrite.serialize(Vector(page(
      (72, 720, "The Heading Line"),
      (72, 700, "Body text first line."),
      (72, 686, "Body text second line."))), compress = false)
    assert(ExtractKernel.isRealPdf(bytes))
    val pdf = PdfReal.parse(bytes)
    assert(pdf.pages.length == 1)
    val text = pdf.pages.head.blocks.map(_.text).mkString("\n")
    assert(text.contains("The Heading Line"))
    assert(text.contains("Body text first line."))
    assert(text.indexOf("Heading") < text.indexOf("second"), "top-down order")
    // vertically adjacent lines (14pt apart at 12pt font) group into one block
    val bodyBlock = pdf.pages.head.blocks.find(_.text.contains("first line"))
    assert(bodyBlock.exists(_.text.contains("second line")), "adjacent lines share a block")
    assert(pdf.pages.head.blocks.forall(_.category == Categories.Text))
  }

  test("FlateDecode content streams inflate via java.util.zip") {
    val bytes = PdfWrite.serialize(Vector(page((72, 720, "compressed payload text"))), compress = true)
    val pdf = PdfReal.parse(bytes)
    assert(pdf.pages.head.blocks.exists(_.text.contains("compressed payload text")))
  }

  test("multi-page: page order follows the /Kids array; fanOut emits pdf pages") {
    val bytes = PdfWrite.serialize(Vector(
      page((72, 720, "alpha page one")),
      page((72, 720, "beta page two")),
      page((72, 720, "gamma page three"))), compress = true)
    val pages = ExtractKernel.fanOut(doc(bytes))
    assert(pages.length == 3 && pages.forall(_.payload_kind == "pdf"))
    val parsed = pages.map(ExtractKernel.parsePage(_, PromptMode.LayoutAll))
    assert(parsed(0).extracted_text.contains("alpha"))
    assert(parsed(1).extracted_text.contains("beta"))
    assert(parsed(2).extracted_text.contains("gamma"))
    assert(parsed.forall(_.error.isEmpty))
    // page-range pruning applies to real PDFs too
    val sliced = ExtractKernel.fanOut(doc(bytes), 1, 1)
    assert(sliced.length == 1 && sliced.head.total_pages == 1)
    assert(ExtractKernel.parsePage(sliced.head, PromptMode.LayoutAll).extracted_text.contains("beta"))
  }

  test("hand-written PDF (TJ array, hex string, escapes, indirect /Length) — not writer-shaped") {
    // content exercises: Td positioning, TJ with kern numbers, octal/paren
    // escapes, hex string, ' operator; /Length is an indirect ref whose
    // object appears AFTER the stream (forces the endstream-search path)
    val content =
      """BT
        |/F1 14 Tf
        |72 700 Td
        |[ (Hel) -20 (lo) -400 (world) ] TJ
        |0 -18 Td
        |(paren \(escaped\) and octal \101) Tj
        |(apostrophe line) '
        |<48657820627974657321> Tj
        |ET""".stripMargin.replace("\r\n", "\n")
    val pdf =
      s"""%PDF-1.4
         |1 0 obj
         |<< /Type /Catalog /Pages 2 0 R >>
         |endobj
         |2 0 obj
         |<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 595 842] >>
         |endobj
         |3 0 obj
         |<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>
         |endobj
         |4 0 obj
         |<< /Length 5 0 R >>
         |stream
         |$content
         |endstream
         |endobj
         |5 0 obj
         |${content.length}
         |endobj
         |trailer
         |<< /Size 6 /Root 1 0 R >>
         |%%EOF
         |""".stripMargin
    val parsed = PdfReal.parse(pdf.getBytes(StandardCharsets.ISO_8859_1))
    assert(parsed.pages.length == 1)
    // MediaBox inherited from the Pages node
    assert(parsed.pages.head.widthPts == 595f && parsed.pages.head.heightPts == 842f)
    val text = parsed.pages.head.blocks.map(_.text).mkString("\n")
    assert(text.contains("Hello world"), s"TJ kern-space assembly, got: $text")
    assert(text.contains("paren (escaped) and octal A"))
    assert(text.contains("apostrophe line"))
    assert(text.contains("Hex bytes!"))
  }

  test("outside the slice: encrypted / unsupported filter / no text layer keep the typed error row") {
    def errOf(bytes: Array[Byte]): String = {
      val rows = ExtractKernel.fanOut(doc(bytes))
      assert(rows.length == 1 && rows.head.payload_kind == "error")
      new String(rows.head.page_bytes, StandardCharsets.UTF_8)
    }
    val base = new String(PdfWrite.serialize(Vector(page((72, 720, "x"))), compress = false),
      StandardCharsets.ISO_8859_1)
    val encrypted = base.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
    assert(errOf(encrypted.getBytes(StandardCharsets.ISO_8859_1)).contains("encrypted"))

    val dctFiltered = base.replace(">>\nstream", " /Filter /DCTDecode >>\nstream")
    assert(errOf(dctFiltered.getBytes(StandardCharsets.ISO_8859_1)).contains("unsupported filter"))

    // image-only page: valid structure, no text operators anywhere
    val noText = base.replace("BT\n", "").replace("ET\n", "")
      .replaceAll("""(?s)/F1 [\d.]+ Tf\n""", "").replaceAll("""(?s)1 0 0 1 [\d. ]+Tm\n""", "")
      .replaceAll("""\(.*\) Tj\n""", "")
    assert(errOf(noText.getBytes(StandardCharsets.ISO_8859_1)).contains("no extractable text layer"))

    assert(errOf("%PDF-1.4\ngarbage".getBytes(StandardCharsets.UTF_8)).contains("unsupported_format"))
  }

  test("obj-header-lookalike INSIDE stream data cannot shadow a real object") {
    // the content stream's DATA contains bytes that look like a page
    // object definition; with the declared /Length consumed, the spurious
    // header must be skipped, not parsed as object 3
    val content = "BT /F1 12 Tf 72 700 Td (real text) Tj ET\n" +
      "% lookalike follows as raw data:\n3 0 obj\n<< /Type /Page /Contents 99 0 R >>\nendobj\n"
    val pdf =
      s"""%PDF-1.4
         |1 0 obj
         |<< /Type /Catalog /Pages 2 0 R >>
         |endobj
         |2 0 obj
         |<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>
         |endobj
         |3 0 obj
         |<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>
         |endobj
         |4 0 obj
         |<< /Length ${content.length} >>
         |stream
         |$content
         |endstream
         |endobj
         |trailer
         |<< /Size 5 /Root 1 0 R >>
         |%%EOF
         |""".stripMargin
    // the real page object 3 precedes the stream — but serialize the fake
    // BEFORE the real one too, by putting the stream object FIRST
    val reordered = pdf.replace(
      s"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n4 0 obj",
      "4 0 obj")
      .replace("trailer",
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\ntrailer")
    for (variant <- Seq(pdf, reordered)) {
      val parsed = PdfReal.parse(variant.getBytes(StandardCharsets.ISO_8859_1))
      assert(parsed.pages.length == 1, "exactly the real page")
      assert(parsed.pages.head.blocks.exists(_.text.contains("real text")),
        s"real page content expected, got ${parsed.pages.head.blocks.map(_.text)}")
    }
  }

  test("property: writer→parser round-trip preserves every line's text, page count, and order") {
    val rng = new scala.util.Random(4242)
    for (trial <- 0 until 25) {
      val nPages = 1 + rng.nextInt(4)
      val pages = Vector.tabulate(nPages) { p =>
        val n = 1 + rng.nextInt(6)
        var y = 740.0
        PdfWrite.Page(612, 792, Vector.tabulate(n) { i =>
          y -= 20 + rng.nextInt(30)
          val words = Vector.fill(2 + rng.nextInt(6))(s"w${rng.nextInt(1000)}")
          PdfWrite.TextLine(54 + rng.nextInt(100), y, 9 + rng.nextInt(10),
            s"t$trial-p$p-l$i " + words.mkString(" ") + (if (rng.nextBoolean()) " (x\\y)" else ""))
        })
      }
      val bytes = PdfWrite.serialize(pages, compress = rng.nextBoolean())
      val parsed = PdfReal.parse(bytes)
      assert(parsed.pages.length == nPages, s"trial $trial page count")
      pages.zip(parsed.pages).foreach { case (w, r) =>
        val text = r.blocks.map(_.text).mkString("\n")
        // escape round-trip: ( ) \ in the text survive writer+parser exactly
        w.lines.foreach(l => assert(text.contains(l.text),
          s"trial $trial missing line '${l.text}'"))
        // top-down order of line markers
        val idx = w.lines.map(l => text.indexOf(l.text.takeWhile(_ != ' ')))
        assert(idx == idx.sorted, s"trial $trial order: $idx")
      }
    }
  }

  /** Hand-built PDF 1.5 file whose catalog/pages/page dicts live inside a
    * `/Type /ObjStm` object stream (the modern-producer layout); only the
    * content stream is a top-level object, as the spec requires. */
  private def objStmPdf(compressObjStm: Boolean): Array[Byte] = {
    def b(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)
    val packed = Seq(
      "<< /Type /Catalog /Pages 3 0 R >>",
      "<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>")
    val offsets = packed.scanLeft(0)(_ + _.length + 1).init
    val header = Seq(2, 3, 4).zip(offsets).map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val body = b(header + packed.mkString("\n") + "\n")
    val first = header.length
    val stmData = if (!compressObjStm) body else {
      val d = new java.util.zip.Deflater()
      d.setInput(body); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val filter = if (compressObjStm) " /Filter /FlateDecode" else ""
    val content = b("BT /F1 12 Tf 72 720 Td (packed object stream text) Tj ET")
    val out = new java.io.ByteArrayOutputStream()
    out.write(b("%PDF-1.5\n"))
    out.write(b(s"1 0 obj << /Type /ObjStm /N 3 /First $first /Length ${stmData.length}$filter >> stream\n"))
    out.write(stmData)
    out.write(b("\nendstream endobj\n"))
    out.write(b(s"5 0 obj << /Length ${content.length} >> stream\n"))
    out.write(content)
    out.write(b("\nendstream endobj\n%%EOF\n"))
    out.toByteArray
  }

  test("ObjStm: catalog/page dicts packed in an object stream still parse (raw + flate)") {
    Seq(false, true).foreach { compress =>
      val bytes = objStmPdf(compress)
      assert(ExtractKernel.isRealPdf(bytes))
      val pdf = PdfReal.parse(bytes)
      assert(pdf.pages.length == 1, s"compress=$compress")
      assert(pdf.pages.head.blocks.exists(_.text.contains("packed object stream text")),
        s"compress=$compress: ${pdf.pages.head.blocks.map(_.text)}")
      // end-to-end: the kernel branch emits content, not an error row
      val parsed = ExtractKernel.parseDoc(doc(bytes), PromptMode.LayoutAll)
      assert(parsed.head.error.isEmpty && parsed.head.md.contains("packed object stream text"))
    }
  }

  test("nonzero-origin MediaBox: blocks land in MediaBox-local top-left coords") {
    // MediaBox [0 100 612 892] — same 612×792 page, origin shifted up 100.
    // Text at device y=850 is 42pt below the page TOP (892-850), so the
    // top-left block must start near y≈42-12 (minus the ascent margin),
    // NOT at 2*mby-shifted/clamped values (the pre-fix bug gave y1=-100→0).
    val base = new String(PdfWrite.serialize(Vector(
      PdfWrite.Page(612, 792, Vector(PdfWrite.TextLine(72, 850, 12, "shifted origin text")))),
      compress = false), StandardCharsets.ISO_8859_1)
    val shifted = base.replace("/MediaBox [ 0 0 612.0 792.0 ]", "/MediaBox [ 0 100 612 892 ]")
    assert(shifted != base, "MediaBox replacement must hit")
    val pdf = PdfReal.parse(shifted.getBytes(StandardCharsets.ISO_8859_1))
    assert(pdf.pages.head.heightPts == 792f)
    val blk = pdf.pages.head.blocks.find(_.text.contains("shifted origin text")).get
    // flip of MediaBox-local y=750: top y1 = 792 - (750 + 0.8*12) = 32.4
    assert(math.abs(blk.y1 - 32.4f) < 0.5f, s"y1=${blk.y1}")
    assert(math.abs(blk.y2 - 45.0f) < 0.5f, s"y2=${blk.y2}")
    // and the zero-origin rendering of the SAME geometry matches exactly:
    // device y=750 in a [0 0 612 792] box is the same page position
    val zero = PdfReal.parse(PdfWrite.serialize(Vector(
      PdfWrite.Page(612, 792, Vector(PdfWrite.TextLine(72, 750, 12, "shifted origin text")))),
      compress = false))
    val zblk = zero.pages.head.blocks.head
    assert(blk.y1 == zblk.y1 && blk.y2 == zblk.y2 && blk.x1 == zblk.x1,
      s"shifted-box block $blk != zero-box block $zblk")
  }

  test("xref-stream-only PDF with /Encrypt in the XRef stream dict takes the typed encrypted path") {
    // PDF 1.5+ shape: no `trailer` keyword anywhere; the trailer-equivalent
    // is a /Type /XRef stream dict carrying /Encrypt
    val pdf =
      s"""%PDF-1.5
         |1 0 obj
         |<< /Type /Catalog /Pages 2 0 R >>
         |endobj
         |2 0 obj
         |<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>
         |endobj
         |3 0 obj
         |<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>
         |endobj
         |4 0 obj
         |<< /Length 44 >>
         |stream
         |BT /F1 12 Tf 72 700 Td (secret text) Tj ET
         |endstream
         |endobj
         |6 0 obj
         |<< /Type /XRef /Size 7 /Root 1 0 R /Encrypt 5 0 R /W [1 2 1] /Length 0 >>
         |stream
         |endstream
         |endobj
         |startxref
         |400
         |%%EOF
         |""".stripMargin
    val ex = intercept[PdfReal.PdfRealError] {
      PdfReal.parse(pdf.getBytes(StandardCharsets.ISO_8859_1))
    }
    assert(ex.getMessage.contains("encrypted"))
  }

  test("raster-only (scanned) page: image XObject + no text layer → full-page Picture, not an error") {
    // page 1 has text; page 2 is a scan — content stream only paints an
    // image XObject (inherited /Resources on the Pages node)
    val imgData = "xx" // opaque DCT bytes; never decoded
    val content1 = "BT /F1 12 Tf 72 700 Td (text page) Tj ET"
    val content2 = "q 612 0 0 792 0 0 cm /Im1 Do Q"
    val pdf =
      s"""%PDF-1.4
         |1 0 obj
         |<< /Type /Catalog /Pages 2 0 R >>
         |endobj
         |2 0 obj
         |<< /Type /Pages /Count 2 /Kids [3 0 R 4 0 R] /MediaBox [0 0 612 792]
         |   /Resources << /XObject << /Im1 7 0 R >> >> >>
         |endobj
         |3 0 obj
         |<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>
         |endobj
         |4 0 obj
         |<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>
         |endobj
         |5 0 obj
         |<< /Length ${content1.length} >>
         |stream
         |$content1
         |endstream
         |endobj
         |6 0 obj
         |<< /Length ${content2.length} >>
         |stream
         |$content2
         |endstream
         |endobj
         |7 0 obj
         |<< /Subtype /Image /Width 100 /Height 100 /Length ${imgData.length} >>
         |stream
         |$imgData
         |endstream
         |endobj
         |trailer
         |<< /Size 8 /Root 1 0 R >>
         |%%EOF
         |""".stripMargin
    val parsed = PdfReal.parse(pdf.getBytes(StandardCharsets.ISO_8859_1))
    assert(parsed.pages.length == 2)
    assert(parsed.pages(0).blocks.exists(_.text.contains("text page")))
    val scan = parsed.pages(1).blocks
    assert(scan.length == 1 && scan.head.category == Categories.Picture && scan.head.text == "")
    assert(scan.head.x2 == 612f && scan.head.y2 == 792f, "full-page Picture")
    // a FULLY scanned doc (no text anywhere) also parses now
    val allScanned = pdf.replace(content1, content2)
      .replace(s"/Length ${content1.length} >>", s"/Length ${content2.length} >>")
    val parsed2 = PdfReal.parse(allScanned.getBytes(StandardCharsets.ISO_8859_1))
    assert(parsed2.pages.forall(_.blocks.exists(_.category == Categories.Picture)))
    // end-to-end: kernel emits Picture md (placeholder URI), not an error row
    val rows = ExtractKernel.parseDoc(doc(allScanned.getBytes(StandardCharsets.ISO_8859_1)),
      PromptMode.LayoutAll)
    assert(rows.forall(_.error.isEmpty))
    assert(rows.head.cells_json.contains("\"category\": \"Picture\""))
  }

  test("end-to-end parseDoc: real PDF produces md with the text; fused path ≡ fanOut path") {
    val bytes = PdfWrite.serialize(Vector(
      page((72, 720, "fused path check"), (72, 704, "line two here")),
      page((72, 720, "second page text"))), compress = true)
    val fused = ExtractKernel.parseDoc(doc(bytes), PromptMode.LayoutAll)
    val spread = ExtractKernel.fanOut(doc(bytes)).map(ExtractKernel.parsePage(_, PromptMode.LayoutAll))
    assert(fused == spread, "fused and per-RawPage paths must agree")
    assert(fused.head.md.contains("fused path check"))
    assert(fused(1).md.contains("second page text"))
    assert(fused.forall(p => p.error.isEmpty && !p.filtered))

    // gzip-wrapped PDFs (real and lite), whole and sliced to (1, 1): the
    // fused path parses them in place, fanOut serializes each page
    // a rastered multi-page PDF-lite doc, so the Picture crop path runs too
    import graft.gen.InputGen
    val lite = Iterator.from(0).map(_.toLong).filter(InputGen.isRastered)
      .map(id => InputGen.pdfPayload(new InputGen.Rng(5L, id, 0L), "en", id))
      .find(_.pages.length >= 2).get
    val payloads = Seq(bytes, PdfLite.serialize(lite))
    for (p <- payloads; d = doc(graft.sources.Warc.gzipMember(p));
         (s, e) <- Seq((0, -1), (1, 1)); m <- Seq(PromptMode.LayoutAll, PromptMode.Ocr)) {
      val viaPages = ExtractKernel.fanOut(d, s, e).map(ExtractKernel.parsePage(_, m))
      assert(ExtractKernel.parseDoc(d, m, s, e) == viaPages)
      assert(viaPages.length == (if (s == 1) 1 else ExtractKernel.fanOut(doc(p)).length))
      assert(viaPages.forall(_.error.isEmpty))
    }
  }

  /** Minimal hand-authored PDF with one page, one font resource carrying
    * a /ToUnicode CMap, and one BT/ET block showing `showHex`. */
  private def cidPdf(cmap: String, showHex: String): Array[Byte] = {
    val content = s"BT /F1 12 Tf 72 720 Td <$showHex> Tj ET"
    val pdf =
      s"""%PDF-1.5
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]
         |  /Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >> endobj
         |4 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Planted-CID
         |  /Encoding /Identity-H /ToUnicode 6 0 R >> endobj
         |5 0 obj << /Length ${content.length} >> stream
         |$content
         |endstream endobj
         |6 0 obj << /Length ${cmap.length} >> stream
         |$cmap
         |endstream endobj
         |%%EOF
         |""".stripMargin
    pdf.getBytes(StandardCharsets.ISO_8859_1)
  }

  test("ToUnicode CMap: 2-byte CID codes decode to true text (bfchar + incrementing bfrange + array bfrange)") {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0101> <0048>
        |<0102> <0065>
        |endbfchar
        |2 beginbfrange
        |<0110> <0112> <006C>
        |<0120> <0121> [<006F0075> <0021>]
        |endbfrange
        |end""".stripMargin
    // codes 0101 0102 (bfchar → "H","e"), 0110 0111 0112 (incrementing
    // range 006C.. → "l","m","n"), 0120 0121 (array → "ou","!")
    val bytes = cidPdf(cmap, "0101010201100111011201200121")
    val pdf = PdfReal.parse(bytes)
    val text = pdf.pages.head.blocks.map(_.text).mkString
    assert(text == "Helmnou!", s"CMap-decoded text must be true Unicode, got [$text]")
    // the same show-string WITHOUT the CMap would be garbage glyph codes —
    // prove the mapping is doing the work, not the raw bytes
    assert(!text.contains(1.toChar) && !text.contains(16.toChar))
  }

  test("ToUnicode CMap: 1-byte symbolic font codespace decodes via bfchar; unmapped codes fall back") {
    val cmap =
      """begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |3 beginbfchar
        |<41> <0057>
        |<42> <006F0077>
        |<43> <0021>
        |endbfchar""".stripMargin
    // 41 42 43 → "W" "ow" "!", plus unmapped 44 → its code value 'D'
    val bytes = cidPdf(cmap, "41424344")
    val pdf = PdfReal.parse(bytes)
    val text = pdf.pages.head.blocks.map(_.text).mkString
    assert(text == "Wow!D", s"got [$text]")
  }

  test("ToUnicode CMap: multi-char dst in an incrementing bfrange (ligatures) and end-to-end md") {
    val cmap =
      """begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |1 beginbfrange
        |<0200> <0201> <00660069>
        |endbfrange""".stripMargin
    // 0200 → "fi", 0201 → "fj" (last unit increments: 0069+1 = 006A)
    val bytes = cidPdf(cmap, "02000201")
    val pdf = PdfReal.parse(bytes)
    assert(pdf.pages.head.blocks.map(_.text).mkString == "fifj")
    // and the whole kernel path: md carries the decoded text
    val parsed = ExtractKernel.parseDoc(doc(bytes), PromptMode.LayoutAll)
    assert(parsed.head.error.isEmpty && parsed.head.md.contains("fifj"))
  }

  test("fonts WITHOUT ToUnicode keep the round-3 decode (BOM'd UTF-16BE / Latin-1) — no regression") {
    val bytes = PdfWrite.serialize(Vector(page((72, 720, "plain latin text"))), compress = false)
    assert(PdfReal.parse(bytes).pages.head.blocks.exists(_.text.contains("plain latin text")))
  }
}
