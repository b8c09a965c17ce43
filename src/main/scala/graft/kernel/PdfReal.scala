package graft.kernel

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

import graft.core.Categories

/** Text-layer parser for REAL `%PDF-` payloads — the slice of PDF the
  * sandbox can support without native renderers. The reference parses real
  * PDFs first-class through PyMuPDF (`doc_utils.py:42-60`, extension
  * dispatch `parser.py:307-312`); this build extracts the embedded TEXT
  * LAYER of uncompressed / FlateDecode PDFs (java.util.zip is in the JDK)
  * and converts it into a [[PdfLite.PdfDoc]], so everything downstream —
  * page fan-out, dpi geometry, reading order, smart-resize, md render —
  * is the one shared pipeline. Payloads outside the slice (encrypted,
  * non-Flate filters, no text layer) raise [[PdfRealError]] and keep the
  * round-2 typed `unsupported_format` error row.
  *
  * Scope (documented, test-pinned):
  *  - objects are discovered by scanning `N G obj … endobj` spans — no
  *    xref dependency, so linearized / incrementally-updated / mildly
  *    damaged files still parse; xref-STREAM-only files work, and packed
  *    `/Type /ObjStm` object streams ARE unpacked (see
  *    [[expandObjStreams]]) so PDF 1.5+ catalogs/page dicts resolve;
  *  - text positioning tracks Tm/Td/TD/T-star/TL translation + Tf size only
  *    (no full CTM, no font widths): bboxes are font-size estimates, which
  *    is all the downstream bbox geometry needs (blocks, not glyphs);
  *  - show-strings of fonts carrying a /ToUnicode CMap (CID-keyed Type0,
  *    symbolic simple fonts) decode through the embedded CMap — bfchar,
  *    bfrange (incrementing + array forms), 1- and 2-byte codespaces —
  *    so such PDFs extract TRUE text (the reference gets this via
  *    PyMuPDF, doc_utils.py:42-60); fonts without one decode as
  *    UTF-16BE when BOM'd, else PDFDocEncoding ≈ Latin-1;
  *  - every extracted block is `Text` — layout-category inference from
  *    font metrics is the classifier's job, not the loader's.
  */
object PdfReal {

  final class PdfRealError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new PdfRealError(msg)

  // ---- object model ------------------------------------------------------

  private sealed trait PVal
  private final case class PNum(v: Double) extends PVal
  private final case class PName(v: String) extends PVal
  private final case class PStr(bytes: Array[Byte]) extends PVal
  private final case class PArr(items: Vector[PVal]) extends PVal
  private final case class PDict(m: Map[String, PVal]) extends PVal
  private final case class PRef(num: Int) extends PVal
  private final case class PBool(v: Boolean) extends PVal
  private case object PNull extends PVal

  private final case class PObj(dict: PVal, stream: Option[Array[Byte]])

  // ---- entry -------------------------------------------------------------

  /** Parse the text layer into the shared page model. Throws [[PdfRealError]]
    * on payloads outside the supported slice. */
  def parse(bytes: Array[Byte]): PdfLite.PdfDoc = {
    // ISO-8859-1 is a byte↔char bijection: a cheap scanning view (JVM
    // compact strings keep it byte-backed) that never corrupts offsets
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    if (encrypted(s)) fail("encrypted")
    val objs = expandObjStreams(scanObjects(s, bytes))
    if (objs.isEmpty) fail("no parseable objects")
    // PDF 1.5+ xref-stream-only files have no `trailer` keyword: their
    // trailer-equivalent is the /Type /XRef stream dict, so an /Encrypt
    // key there must also take the typed error path (otherwise the
    // still-encrypted strings would be emitted as garbage text blocks)
    val xrefEncrypted = objs.valuesIterator.exists {
      case PObj(PDict(d), _) =>
        d.get("Type").contains(PName("XRef")) && d.contains("Encrypt")
      case _ => false
    }
    if (xrefEncrypted) fail("encrypted")

    def deref(v: PVal, depth: Int = 0): PVal = v match {
      case PRef(n) if depth < 32 => objs.get(n).map(o => deref(o.dict, depth + 1)).getOrElse(PNull)
      case other                 => other
    }
    def dictOf(v: PVal): Map[String, PVal] = deref(v) match {
      case PDict(m) => m
      case _        => Map.empty
    }

    // page tree walk from the catalog (inherits MediaBox); fall back to
    // scan order over bare /Type /Page objects for catalog-less files
    val catalog = objs.valuesIterator.map(_.dict).collectFirst {
      case PDict(m) if m.get("Type").contains(PName("Catalog")) => m
    }
    val pageDicts: Option[Vector[Map[String, PVal]]] = catalog.flatMap(_.get("Pages")) match {
      case Some(rootRef) =>
        val out = Vector.newBuilder[Map[String, PVal]]
        // MediaBox AND Resources are inheritable page-tree attributes
        // (ISO 32000 §7.7.3.4) — Resources matters for the raster-only
        // fallback below (image XObjects often hang off the Pages node)
        def walk(node: PVal, inheritedMb: Option[PVal], inheritedRes: Option[PVal], depth: Int): Unit = {
          if (depth > 64) return
          val d = dictOf(node)
          val mb = d.get("MediaBox").orElse(inheritedMb)
          val res = d.get("Resources").orElse(inheritedRes)
          d.get("Type") match {
            case Some(PName("Page")) =>
              var pd = d
              mb.foreach(b => pd = pd.updated("MediaBox", b))
              res.foreach(r => pd = pd.updated("Resources", r))
              out += pd
            case _ =>
              deref(d.getOrElse("Kids", PNull)) match {
                case PArr(kids) => kids.foreach(walk(_, mb, res, depth + 1))
                case _          => ()
              }
          }
        }
        walk(rootRef, None, None, 0)
        Some(out.result())
      case None => None
    }
    val pages: Vector[Map[String, PVal]] = pageDicts.filter(_.nonEmpty).getOrElse {
      objs.toVector.sortBy(_._1).map(_._2.dict).collect {
        case PDict(m) if m.get("Type").contains(PName("Page")) => m
      }
    }
    if (pages.isEmpty) fail("no pages")

    var anyContent = false
    val litePages = pages.map { pd =>
      val (mbx, mby, w, h) = deref(pd.getOrElse("MediaBox", PNull)) match {
        case PArr(Seq(a, b, c, d)) =>
          (num(deref(a)), num(deref(b)), num(deref(c)) - num(deref(a)), num(deref(d)) - num(deref(b)))
        case _ => (0.0, 0.0, 612.0, 792.0)
      }
      // raster-only (scanned) fallback detector: any /XObject resource
      // whose dict says /Subtype /Image
      def hasImageXObject: Boolean = dictOf(pd.getOrElse("Resources", PNull))
        .get("XObject").map(dictOf) match {
        case Some(xs) => xs.valuesIterator.exists { v =>
          (v match {
            case PRef(n) => objs.get(n).map(_.dict).getOrElse(PNull)
            case other   => other
          }) match {
            case PDict(xd) => xd.get("Subtype").contains(PName("Image"))
            case _         => false
          }
        }
        case None => false
      }
      val content: Array[Byte] = deref(pd.getOrElse("Contents", PNull)) match {
        case PArr(parts) =>
          val bufs = parts.map(p => streamOf(p, objs, deref))
          val out = new java.io.ByteArrayOutputStream()
          bufs.foreach { b => out.write(b); out.write('\n') } // spec: streams joined as one with whitespace
          out.toByteArray
        // a direct stream object resolves through the PRef case of streamOf
        case _ => streamOf(pd.getOrElse("Contents", PNull), objs, deref)
      }
      // translate device-space runs into MediaBox-local space BEFORE the
      // top-left flip: flipping as pageH - y is only correct when y is
      // already MediaBox-relative. (Shifting the flipped blocks afterwards
      // double-subtracted the origin and clamped in the wrong frame — a
      // [0 100 612 892] MediaBox put every block 2*mby too low.)
      // per-page font → ToUnicode CMap table (ISO 32000 §9.10.3): CID-keyed
      // and symbolically-encoded fonts carry their code→Unicode mapping in
      // an embedded CMap stream; without it their show-strings are glyph
      // codes, not text. PyMuPDF applies this for free (reference
      // doc_utils.py:42-60); here each /Font resource with a /ToUnicode
      // stream decodes through the parsed CMap. Fonts without one keep the
      // round-3 behavior (UTF-16BE BOM sniff, else PDFDocEncoding).
      val fontCMaps: Map[String, FontCMap] =
        dictOf(pd.getOrElse("Resources", PNull)).get("Font").map(dictOf) match {
          case Some(fd) => fd.flatMap { case (name, v) =>
            dictOf(v).get("ToUnicode").flatMap { tu =>
              val sb = streamOf(tu, objs, deref)
              if (sb.isEmpty) None
              else try Some(name -> parseToUnicodeCMap(
                new String(sb, StandardCharsets.ISO_8859_1)))
              catch { case scala.util.control.NonFatal(_) => None }
            }
          }
          case None => Map.empty
        }
      val runs = extractRuns(content, fontCMaps).map(r => r.copy(x = r.x - mbx, y = r.y - mby))
      val blocks = runsToBlocks(runs, w.toFloat, h.toFloat)
      val withFallback =
        if (blocks.nonEmpty || !hasImageXObject) blocks
        else
          // raster-only (scanned) page: no text layer but an image XObject —
          // degrade to the reference's "Picture, no text" behavior (the VLM
          // reading a rendered scan emits Picture cells, doc_utils.py:20-39)
          // instead of failing the whole document. Without a CTM-tracked Do
          // placement the deterministic stand-in is one full-page Picture.
          Vector(PdfLite.PdfBlock(0f, 0f, w.toFloat, h.toFloat, Categories.Picture, ""))
      if (withFallback.nonEmpty) anyContent = true
      PdfLite.PdfPage(w.toFloat, h.toFloat, withFallback)
    }
    if (!anyContent) fail("no extractable text layer")
    PdfLite.PdfDoc(litePages)
  }

  private def num(v: PVal): Double = v match {
    case PNum(d) => d
    case _       => 0.0
  }

  /** Resolve a /Contents value to decoded stream bytes ('' when absent). */
  private def streamOf(v: PVal, objs: Map[Int, PObj], deref: (PVal, Int) => PVal): Array[Byte] = v match {
    case PRef(n) =>
      objs.get(n) match {
        case Some(PObj(dict, Some(raw))) => decodeStream(dict, raw, deref)
        case _                           => Array.emptyByteArray
      }
    case _ => Array.emptyByteArray
  }

  private def decodeStream(dict: PVal, raw: Array[Byte], deref: (PVal, Int) => PVal): Array[Byte] = {
    val d = dict match { case PDict(m) => m; case _ => Map.empty[String, PVal] }
    val filters: Vector[String] = deref(d.getOrElse("Filter", PNull), 0) match {
      case PName(n)    => Vector(n)
      case PArr(items) => items.map(deref(_, 0)).collect { case PName(n) => n }
      case _           => Vector.empty
    }
    deref(d.getOrElse("DecodeParms", PNull), 0) match {
      case PDict(p) if p.get("Predictor").exists(x => num(deref(x, 0)) > 1) =>
        fail("unsupported predictor")
      case _ => ()
    }
    filters.foldLeft(raw) {
      case (acc, "FlateDecode" | "Fl") => inflate(acc)
      case (_, other)                  => fail(s"unsupported filter /$other")
    }
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
      val buf = new Array[Byte](8192)
      var guard = 0
      while (!inf.finished() && !inf.needsInput() && guard < (1 << 16)) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n) else guard += (1 << 14)
        guard += 1
      }
      if (out.size() == 0) fail("flate stream did not decode")
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => fail("corrupt flate stream")
    } finally inf.end()
  }

  private def encrypted(s: String): Boolean = {
    val t = s.lastIndexOf("trailer")
    t >= 0 && s.indexOf("/Encrypt", t) >= 0
  }

  // ---- object scan -------------------------------------------------------

  private val ObjHeader = """(?s)(\d{1,9})\s+\d{1,5}\s+obj\b""".r

  private def scanObjects(s: String, bytes: Array[Byte]): Map[Int, PObj] = {
    val out = Map.newBuilder[Int, PObj]
    // binary stream data can contain ASCII that happens to look like an
    // `N G obj` header; once a real object's stream has been consumed,
    // matches that START inside it are spurious — skip them so a fake
    // header can never shadow a real object of the same number
    var consumedTo = 0
    ObjHeader.findAllMatchIn(s).foreach { m =>
      if (m.start >= consumedTo) try {
        val lex = new Lexer(s, m.end)
        val value = lex.parseValue(0)
        lex.skipWs()
        val stream =
          if (lex.atKeyword("stream")) {
            lex.pos += "stream".length
            // data begins after CRLF or LF following the keyword
            if (lex.pos < s.length && s.charAt(lex.pos) == '\r') lex.pos += 1
            if (lex.pos < s.length && s.charAt(lex.pos) == '\n') lex.pos += 1
            val start = lex.pos
            val declared = value match {
              case PDict(d) => d.get("Length") match {
                case Some(PNum(n)) if n >= 0 && start + n <= s.length => Some(n.toInt)
                case _ => None // indirect /Length → endstream search below
              }
              case _ => None
            }
            val end = declared.map(start + _)
              .filter(e => s.startsWith("endstream", skipWsFrom(s, e)))
              .getOrElse {
                val e = s.indexOf("endstream", start)
                if (e < 0) fail("unterminated stream")
                // trim the EOL that precedes the endstream keyword
                var t = e
                if (t > start && s.charAt(t - 1) == '\n') t -= 1
                if (t > start && s.charAt(t - 1) == '\r') t -= 1
                t
              }
            consumedTo = end
            Some(java.util.Arrays.copyOfRange(bytes, start, end))
          } else None
        out += (m.group(1).toInt -> PObj(value, stream))
      } catch {
        case _: PdfRealError => () // damaged object: skip, keep scanning
      }
    }
    out.result()
  }

  /** Unpack `/Type /ObjStm` object streams (PDF 1.5+): modern producers
    * pack most non-stream objects — catalog, page tree, font dicts —
    * into one compressed stream, so without this the page walk finds
    * nothing. Layout (ISO 32000 §7.5.7): the decoded stream starts with
    * `N` pairs of integers `objnum offset` (offsets relative to /First),
    * followed by the serialized objects; packed objects never carry
    * streams. A top-level object with the same number wins over a packed
    * one (incremental-update shadowing); a damaged object stream is
    * skipped, keeping whatever parsed elsewhere. */
  private def expandObjStreams(objs0: Map[Int, PObj]): Map[Int, PObj] = {
    def deref0(v: PVal, depth: Int): PVal = v match {
      case PRef(n) if depth < 32 =>
        objs0.get(n).map(o => deref0(o.dict, depth + 1)).getOrElse(PNull)
      case other => other
    }
    val packed = Map.newBuilder[Int, PObj]
    var any = false
    objs0.valuesIterator.foreach {
      case PObj(dict @ PDict(d), Some(raw)) if d.get("Type").contains(PName("ObjStm")) =>
        try {
          val data = decodeStream(dict, raw, deref0)
          val n = num(deref0(d.getOrElse("N", PNull), 0)).toInt
          val first = num(deref0(d.getOrElse("First", PNull), 0)).toInt
          if (n <= 0 || n > 100000 || first < 0 || first > data.length)
            fail("implausible ObjStm header")
          val text = new String(data, StandardCharsets.ISO_8859_1)
          val hdr = new Lexer(text, 0)
          val pairs = Vector.newBuilder[(Int, Int)]
          var i = 0
          var ok = true
          while (i < n && ok) {
            (hdr.parseValue(0), hdr.parseValue(0)) match {
              case (PNum(on), PNum(off)) if on >= 0 && off >= 0 =>
                pairs += ((on.toInt, off.toInt))
              case _ => ok = false // torn header: keep the pairs parsed so far
            }
            i += 1
          }
          pairs.result().foreach { case (objNum, off) =>
            val at = first + off
            if (at >= 0 && at < text.length) {
              try {
                packed += (objNum -> PObj(new Lexer(text, at).parseValue(0), None))
                any = true
              } catch { case _: PdfRealError => () }
            }
          }
        } catch { case _: PdfRealError => () }
      case _ => ()
    }
    if (!any) objs0 else packed.result() ++ objs0
  }

  private def skipWsFrom(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\r' || s.charAt(i) == '\n' ||
      s.charAt(i) == '\t' || s.charAt(i) == '\f' || s.charAt(i) == 0)) i += 1
    i
  }

  // ---- value parser ------------------------------------------------------

  private final class Lexer(val s: String, var pos: Int) {
    def skipWs(): Unit = {
      while (pos < s.length) {
        val c = s.charAt(pos)
        if (c == '%') { // comment to EOL
          while (pos < s.length && s.charAt(pos) != '\n' && s.charAt(pos) != '\r') pos += 1
        } else if (c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0) pos += 1
        else return
      }
    }
    def atKeyword(k: String): Boolean = s.startsWith(k, pos)

    def parseValue(depth: Int): PVal = {
      if (depth > 48) fail("value nesting too deep")
      skipWs()
      if (pos >= s.length) fail("eof in value")
      val c = s.charAt(pos)
      if (s.startsWith("<<", pos)) parseDict(depth)
      else if (c == '<') parseHexString()
      else if (c == '(') parseLitString()
      else if (c == '[') parseArray(depth)
      else if (c == '/') parseName()
      else if (atKeyword("true")) { pos += 4; PBool(true) }
      else if (atKeyword("false")) { pos += 5; PBool(false) }
      else if (atKeyword("null")) { pos += 4; PNull }
      else if (c == '+' || c == '-' || c == '.' || c.isDigit) parseNumberOrRef()
      else fail(s"unexpected char '$c'")
    }

    private def parseDict(depth: Int): PVal = {
      pos += 2
      val m = Map.newBuilder[String, PVal]
      while ({ skipWs(); !s.startsWith(">>", pos) }) {
        if (pos >= s.length) fail("eof in dict")
        val PName(k) = parseName(): @unchecked
        m += (k -> parseValue(depth + 1))
      }
      pos += 2
      PDict(m.result())
    }

    private def parseArray(depth: Int): PVal = {
      pos += 1
      val items = Vector.newBuilder[PVal]
      while ({ skipWs(); pos < s.length && s.charAt(pos) != ']' })
        items += parseValue(depth + 1)
      if (pos >= s.length) fail("eof in array")
      pos += 1
      PArr(items.result())
    }

    private def parseName(): PVal = {
      if (s.charAt(pos) != '/') fail("name expected")
      pos += 1
      val sb = new StringBuilder
      while (pos < s.length && isRegular(s.charAt(pos))) {
        val c = s.charAt(pos)
        if (c == '#' && pos + 2 < s.length) {
          val hex = s.substring(pos + 1, pos + 3)
          try { sb.append(Integer.parseInt(hex, 16).toChar); pos += 3 }
          catch { case _: NumberFormatException => sb.append(c); pos += 1 }
        } else { sb.append(c); pos += 1 }
      }
      PName(sb.toString)
    }

    private def isRegular(c: Char): Boolean =
      !(c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0 ||
        c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%')

    private def parseNumberOrRef(): PVal = {
      val start = pos
      if (s.charAt(pos) == '+' || s.charAt(pos) == '-') pos += 1
      while (pos < s.length && (s.charAt(pos).isDigit || s.charAt(pos) == '.')) pos += 1
      val lit = s.substring(start, pos)
      val n = try lit.toDouble catch { case _: NumberFormatException => fail(s"bad number '$lit'") }
      // `N G R` indirect reference lookahead (both integers)
      if (n >= 0 && n == math.floor(n) && !lit.contains('.')) {
        val save = pos
        skipWs()
        val genStart = pos
        while (pos < s.length && s.charAt(pos).isDigit) pos += 1
        if (pos > genStart) {
          skipWs()
          if (pos < s.length && s.charAt(pos) == 'R' &&
            (pos + 1 >= s.length || !isRegular(s.charAt(pos + 1)))) {
            pos += 1
            return PRef(n.toInt)
          }
        }
        pos = save
      }
      PNum(n)
    }

    private def parseLitString(): PVal = {
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var open = 1
      while (open > 0) {
        if (pos >= s.length) fail("eof in string")
        val c = s.charAt(pos)
        pos += 1
        c match {
          case '\\' =>
            if (pos >= s.length) fail("eof in escape")
            val e = s.charAt(pos); pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (pos < s.length && s.charAt(pos) == '\n') pos += 1 // line continuation
              case '\n' => ()
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < s.length && s.charAt(pos) >= '0' && s.charAt(pos) <= '7') {
                  v = v * 8 + (s.charAt(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other.toInt & 0xff)
            }
          case '(' => open += 1; out.write('(')
          case ')' => open -= 1; if (open > 0) out.write(')')
          case ch  => out.write(ch.toInt & 0xff)
        }
      }
      PStr(out.toByteArray)
    }

    private def parseHexString(): PVal = {
      pos += 1
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (!done) {
        if (pos >= s.length) fail("eof in hex string")
        val c = s.charAt(pos); pos += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi << 4) // odd count: final digit padded with 0
          done = true
        } else if (!c.isWhitespace) {
          val d = Character.digit(c, 16)
          if (d < 0) fail(s"bad hex digit '$c'")
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      PStr(out.toByteArray)
    }
  }

  // ---- ToUnicode CMaps -----------------------------------------------------

  /** Parsed /ToUnicode CMap: `codeBytes` = show-string code width (from
    * the codespacerange, 1 or 2), `map` = code → Unicode string (bfchar +
    * expanded bfrange entries; a range dst may be a start value whose LAST
    * 16-bit unit increments, or an explicit per-code array). */
  private[kernel] final case class FontCMap(codeBytes: Int, map: Map[Int, String])

  private val HexTok = "<([0-9A-Fa-f]+)>".r

  /** UTF-16BE hex → String (dst side of bfchar/bfrange). */
  private def hexToUtf16(h: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i + 4 <= h.length) {
      sb.append(Integer.parseInt(h.substring(i, i + 4), 16).toChar)
      i += 4
    }
    if (i < h.length) // tolerate a 2-digit dst (some writers emit byte values)
      sb.append(Integer.parseInt(h.substring(i), 16).toChar)
    sb.toString
  }

  /** Parse the subset of CMap syntax ToUnicode streams use: codespacerange
    * (code width), bfchar pairs, bfrange triples (incrementing dst or dst
    * array). Section-scoped regex scan — ToUnicode streams are generated
    * boilerplate around exactly these operators (ISO 32000 §9.10.3). */
  private[kernel] def parseToUnicodeCMap(text: String): FontCMap = {
    def sections(begin: String, end: String): Iterator[String] = {
      val re = (java.util.regex.Pattern.quote(begin) + "(?s)(.*?)" +
        java.util.regex.Pattern.quote(end)).r
      re.findAllMatchIn(text).map(_.group(1))
    }
    val codeBytes = sections("begincodespacerange", "endcodespacerange")
      .flatMap(s => HexTok.findFirstMatchIn(s).map(_.group(1).length / 2))
      .toSeq.headOption.getOrElse {
        // no codespacerange: infer from the first bfchar/bfrange src width
        val first = sections("beginbfchar", "endbfchar").flatMap(
          s => HexTok.findFirstMatchIn(s).map(_.group(1).length / 2)).toSeq.headOption
        first.orElse(sections("beginbfrange", "endbfrange").flatMap(
          s => HexTok.findFirstMatchIn(s).map(_.group(1).length / 2)).toSeq.headOption)
          .getOrElse(2)
      }
    val map = Map.newBuilder[Int, String]
    for (sec <- sections("beginbfchar", "endbfchar")) {
      val toks = HexTok.findAllMatchIn(sec).map(_.group(1)).toVector
      toks.grouped(2).foreach {
        case Vector(src, dst) => map += Integer.parseInt(src, 16) -> hexToUtf16(dst)
        case _                => ()
      }
    }
    for (sec <- sections("beginbfrange", "endbfrange")) {
      // entries are either `<lo> <hi> <dst>` or `<lo> <hi> [<d0> <d1> ...]`;
      // the array repeat is possessive, which java.util.regex runs as a
      // loop (a backtracking group repeat recurses once per element)
      val Entry = ("<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*" +
        "(?:<([0-9A-Fa-f]+)>|\\[((?:\\s*<[0-9A-Fa-f]+>)*+)\\s*\\])").r
      for (m <- Entry.findAllMatchIn(sec)) {
        val lo = Integer.parseInt(m.group(1), 16)
        val hi = math.min(Integer.parseInt(m.group(2), 16), lo + 65535)
        if (m.group(3) != null) {
          val dst = hexToUtf16(m.group(3))
          // the LAST code unit increments across the range (§9.10.3)
          var c = lo
          while (c <= hi) {
            val d =
              if (dst.isEmpty) ""
              else dst.dropRight(1) + (dst.last + (c - lo)).toChar
            map += c -> d
            c += 1
          }
        } else {
          val dsts = HexTok.findAllMatchIn(m.group(4)).map(g => hexToUtf16(g.group(1))).toVector
          var c = lo
          while (c <= hi && (c - lo) < dsts.length) {
            map += c -> dsts(c - lo)
            c += 1
          }
        }
      }
    }
    FontCMap(if (codeBytes == 1) 1 else 2, map.result())
  }

  // ---- content-stream text extraction ------------------------------------

  private final case class Run(x: Double, y: Double, fs: Double, text: String)

  /** Positioned text runs from one page's (concatenated) content stream.
    * Position model: Tm translation + Td/TD/T-star/TL line moves; Tf size.
    * The x-advance estimate (0.5*fs per char) only orders runs within a
    * line; glyph metrics are out of scope. Show-strings of a font with a
    * /ToUnicode CMap decode through it (code width from the codespace);
    * unmapped codes fall back to the code value as a char. */
  private def extractRuns(content: Array[Byte],
      fonts: Map[String, FontCMap] = Map.empty): Vector[Run] = {
    val s = new String(content, StandardCharsets.ISO_8859_1)
    val lex = new Lexer(s, 0)
    val runs = Vector.newBuilder[Run]
    // operand stack of parsed values; operators consume from it
    var stack = List.empty[PVal]
    var fs = 12.0
    var tl = 0.0
    var lineX = 0.0; var lineY = 0.0 // line matrix translation
    var curX = 0.0; var curY = 0.0   // current show position
    var inText = false
    var curCMap: Option[FontCMap] = None

    def decodeWithCMap(b: Array[Byte], cm: FontCMap): String = {
      val sb = new StringBuilder
      val w = cm.codeBytes
      var i = 0
      while (i + w <= b.length) {
        val code = if (w == 1) b(i) & 0xff else ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
        sb.append(cm.map.getOrElse(code, code.toChar.toString))
        i += w
      }
      if (i < b.length) sb.append((b(i) & 0xff).toChar) // trailing odd byte
      sb.toString
    }
    def strOf(v: PVal): String = v match {
      case PStr(b) =>
        curCMap match {
          case Some(cm) => decodeWithCMap(b, cm)
          case None =>
            if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
              new String(b, 2, b.length - 2, StandardCharsets.UTF_16BE)
            else new String(b, StandardCharsets.ISO_8859_1)
        }
      case _ => ""
    }
    def show(t: String): Unit = if (inText && t.nonEmpty) {
      runs += Run(curX, curY, fs, t)
      curX += t.length * fs * 0.5
    }
    def newline(dx: Double, dy: Double): Unit = {
      lineX += dx; lineY += dy; curX = lineX; curY = lineY
    }

    while ({ lex.skipWs(); lex.pos < s.length }) {
      val c = s.charAt(lex.pos)
      if (c == '/' || c == '(' || c == '<' || c == '[' || c == '+' || c == '-' || c == '.' || c.isDigit) {
        val v = try lex.parseValue(0) catch { case _: PdfRealError => lex.pos += 1; PNull }
        stack = v :: stack
      } else {
        // operator keyword: run of regular chars (includes ' and ")
        val start = lex.pos
        while (lex.pos < s.length && !s.charAt(lex.pos).isWhitespace &&
          "()<>[]{}/%".indexOf(s.charAt(lex.pos)) < 0) lex.pos += 1
        if (lex.pos == start) lex.pos += 1 // lone delimiter: skip
        val op = s.substring(start, lex.pos)
        def n(i: Int): Double = stack.lift(i).map(num).getOrElse(0.0)
        op match {
          case "BT" => inText = true; fs = math.max(fs, 1.0); lineX = 0; lineY = 0; curX = 0; curY = 0
          case "ET" => inText = false
          case "Tf" =>
            fs = math.max(n(0), 1.0)
            // operands: /FontName size → stack is [size, name, ...]
            curCMap = stack.lift(1) match {
              case Some(PName(f)) => fonts.get(f)
              case _              => curCMap
            }
          case "TL" => tl = n(0)
          case "Td" => newline(n(1), n(0))
          case "TD" => tl = -n(0); newline(n(1), n(0))
          case "T*" => newline(0, -tl)
          case "Tm" =>
            // operands a b c d e f pushed in order → stack head is f
            lineX = n(1); lineY = n(0); curX = lineX; curY = lineY
          case "Tj" => show(strOf(stack.headOption.getOrElse(PNull)))
          case "'"  => newline(0, -tl); show(strOf(stack.headOption.getOrElse(PNull)))
          case "\"" => newline(0, -tl); show(strOf(stack.headOption.getOrElse(PNull)))
          case "TJ" => stack.headOption match {
            case Some(PArr(items)) =>
              items.foreach {
                case ps: PStr => show(strOf(ps))
                case PNum(adj) if adj < -180 => show(" ") // big kern gap ≈ space
                case _ => ()
              }
            case _ => ()
          }
          case "BI" =>
            // inline image: raw binary follows — skip to the EI sentinel
            val ei = s.indexOf("EI", lex.pos)
            lex.pos = if (ei < 0) s.length else ei + 2
          case _ => () // path/graphics/color operators: irrelevant to text
        }
        stack = Nil
      }
    }
    runs.result()
  }

  /** Cluster runs into lines (y proximity), lines into blocks (vertical
    * adjacency), and emit [[PdfLite.PdfBlock]]s in TOP-LEFT-origin points
    * (PDF device space is bottom-left-up). */
  private def runsToBlocks(runs: Vector[Run], pageW: Float, pageH: Float): Vector[PdfLite.PdfBlock] = {
    if (runs.isEmpty) return Vector.empty
    // group into lines: same y within 0.3·fs
    val byLine = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Run]]
    runs.sortBy(r => (-r.y, r.x)).foreach { r =>
      byLine.lastOption match {
        case Some(line) if (line.head.y - r.y).abs <= 0.3 * math.max(line.head.fs, r.fs) =>
          line += r
        case _ => byLine += scala.collection.mutable.ArrayBuffer(r)
      }
    }
    final case class Line(x1: Double, x2: Double, y: Double, fs: Double, text: String)
    val lines = byLine.map { lr =>
      val sorted = lr.sortBy(_.x)
      val sb = new StringBuilder
      var lastEnd = Double.NaN
      sorted.foreach { r =>
        if (!lastEnd.isNaN && r.x - lastEnd > 0.25 * r.fs && sb.nonEmpty && sb.last != ' ') sb += ' '
        sb ++= r.text
        lastEnd = r.x + r.text.length * r.fs * 0.5
      }
      Line(sorted.head.x, lastEnd, sorted.head.y, sorted.map(_.fs).max, sb.toString)
    }.filter(_.text.exists(!_.isWhitespace)).toVector

    // group lines into blocks by vertical adjacency (gap ≤ 1.8·fs)
    val blocks = Vector.newBuilder[PdfLite.PdfBlock]
    var group = Vector.empty[Line]
    def flush(): Unit = if (group.nonEmpty) {
      val x1 = group.map(_.x1).min
      val x2 = math.max(group.map(_.x2).max, x1 + 1)
      val yTop = group.map(l => l.y + l.fs * 0.8).max
      val yBot = group.map(l => l.y - l.fs * 0.25).min
      def clampX(v: Double) = math.min(math.max(v, 0), pageW.toDouble)
      def clampY(v: Double) = math.min(math.max(v, 0), pageH.toDouble)
      val bx1 = clampX(x1); val bx2 = math.max(clampX(x2), bx1 + 1)
      val by1 = clampY(pageH - yTop); val by2 = math.max(clampY(pageH - yBot), by1 + 1)
      blocks += PdfLite.PdfBlock(bx1.toFloat, by1.toFloat, bx2.toFloat, by2.toFloat,
        Categories.Text, group.map(_.text).mkString("\n"))
      group = Vector.empty
    }
    lines.foreach { l =>
      group.lastOption match {
        case Some(prev) if prev.y - l.y <= 1.8 * math.max(prev.fs, l.fs) && prev.y - l.y > 0 =>
          group :+= l
        case Some(_) => flush(); group = Vector(l)
        case None    => group = Vector(l)
      }
    }
    flush()
    blocks.result()
  }
}
