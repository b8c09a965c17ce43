package graft.kernel

import scala.collection.mutable

/** Streaming HTML tokenizer + forgiving DOM builder.
  *
  * Built from scratch for the HTML branch of the north rule ("HTML payloads
  * route through boilerplate-strip DOM heuristics"). No external parser —
  * a single forward pass producing tokens, then a stack-based tree builder
  * with void-element and implicit-close handling. Semantics are fixed and
  * deterministic; they define the golden extraction contract for HTML rows.
  */
object HtmlDom {

  sealed trait Node
  final case class Element(
      tag: String,
      attrs: Map[String, String],
      children: mutable.ArrayBuffer[Node]) extends Node
  final case class TextNode(text: String) extends Node

  val VoidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Raw-text elements: content is consumed verbatim until the matching
    * close tag, never tokenized. */
  val RawTextTags: Set[String] = Set("script", "style", "textarea", "title")

  /** p is implicitly closed by any of these openers (HTML5 subset). */
  private val ClosesP: Set[String] = Set(
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hr", "main", "nav", "ol", "p", "pre", "section", "table", "ul")

  private val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "laquo" -> "«", "raquo" -> "»", "times" -> "×",
    "middot" -> "·", "bull" -> "•", "deg" -> "°",
    "plusmn" -> "±", "sup2" -> "²", "frac12" -> "½",
    "alpha" -> "α", "beta" -> "β", "pi" -> "π",
    "sum" -> "∑", "infin" -> "∞", "rarr" -> "→")

  /** Decode character references; unknown entities pass through literally. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(2), 16)); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendCodePoint(Integer.parseInt(body.substring(1))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else NamedEntities.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Decode payload bytes with charset sniffing (S4 polymorphic fetch —
    * the reference's 100-language claim implies real crawl pages that are
    * NOT utf-8). Sniff order, WHATWG-style:
    *   1. byte-order mark (utf-8 / utf-16le / utf-16be);
    *   2. `<meta charset=…>` / `<meta http-equiv … charset=…>` declaration
    *      in the first 1024 bytes (scanned as an ASCII superset);
    *   3. default utf-8.
    * Malformed sequences decode to U+FFFD (never throws). */
  def decodeBytes(bytes: Array[Byte]): String = {
    import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
        (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return decodeWith(bytes, 3, StandardCharsets.UTF_8)
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return decodeWith(bytes, 2, StandardCharsets.UTF_16LE)
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return decodeWith(bytes, 2, StandardCharsets.UTF_16BE)
    sniffMetaCharset(bytes) match {
      case Some(cs) if cs != StandardCharsets.UTF_8 => decodeWith(bytes, 0, cs)
      case _ =>
        // hot path: the String constructor is JIT-intrinsified (same
        // U+FFFD replacement semantics as a REPLACE-configured decoder)
        new String(bytes, StandardCharsets.UTF_8)
    }
  }

  private def decodeWith(bytes: Array[Byte], offset: Int,
      cs: java.nio.charset.Charset): String = {
    import java.nio.charset.CodingErrorAction
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes, offset, bytes.length - offset)).toString
  }

  /** Charset label → JVM charset (the common crawl-era labels; unknown
    * labels fall back to utf-8). */
  private val CharsetLabels: Map[String, String] = Map(
    "utf-8" -> "UTF-8", "utf8" -> "UTF-8",
    "iso-8859-1" -> "ISO-8859-1", "latin1" -> "ISO-8859-1",
    "iso-8859-2" -> "ISO-8859-2", "iso-8859-15" -> "ISO-8859-15",
    "windows-1250" -> "windows-1250", "windows-1251" -> "windows-1251",
    "windows-1252" -> "windows-1252", "cp1251" -> "windows-1251",
    "cp1252" -> "windows-1252", "x-user-defined" -> "windows-1252",
    "shift_jis" -> "Shift_JIS", "shift-jis" -> "Shift_JIS", "sjis" -> "Shift_JIS",
    "euc-jp" -> "EUC-JP", "euc-kr" -> "EUC-KR",
    "gb2312" -> "GB18030", "gbk" -> "GB18030", "gb18030" -> "GB18030",
    "big5" -> "Big5", "koi8-r" -> "KOI8-R",
    "us-ascii" -> "US-ASCII", "ascii" -> "US-ASCII")

  private val MetaCharsetRe =
    """(?is)<meta[^>]+charset\s*=\s*["']?\s*([a-z0-9_\-]+)""".r

  def sniffMetaCharset(bytes: Array[Byte]): Option[java.nio.charset.Charset] = {
    val n = math.min(bytes.length, 1024)
    // scan the prefix as latin-1 (byte-transparent ASCII superset);
    // cheap indexOf gate before the regex — almost no page declares one
    val head = new String(bytes, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (head.indexOf("charset") < 0) return None
    MetaCharsetRe.findFirstMatchIn(head).flatMap { m =>
      CharsetLabels.get(m.group(1).toLowerCase(java.util.Locale.ROOT)).flatMap { name =>
        try Some(java.nio.charset.Charset.forName(name))
        catch { case _: Exception => None }
      }
    }
  }

  /** Parse HTML into a forgiving DOM. Never throws on malformed markup.
    * Linear in the number of tags: the open-element stack keeps a count of
    * open elements per tag, so "is a `<x>` open?" is one lookup, not a
    * scan of the stack. */
  def parse(html: String): Element = {
    val root = Element("#root", Map.empty, mutable.ArrayBuffer.empty)
    val stack = mutable.ArrayBuffer[Element](root)
    // each stack entry carries its tag's open count, so a pop needs no
    // lookup; `#root` counts as open, so `</#root>` pops back to the root
    val open = new java.util.HashMap[String, Array[Int]]()
    val counts = mutable.ArrayBuffer[Array[Int]](Array(1))
    open.put(root.tag, counts.head)
    def top: Element = stack.last
    def openAncestor(tag: String): Boolean = { val c = open.get(tag); c != null && c(0) > 0 }
    def push(el: Element): Unit = {
      val c = open.computeIfAbsent(el.tag, _ => Array(0))
      c(0) += 1; stack += el; counts += c
    }
    def pop(): Unit = { stack.remove(stack.length - 1); counts.remove(counts.length - 1)(0) -= 1 }

    var i = 0
    val n = html.length
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        if (i < n) top.children += TextNode(html.substring(i))
        i = n
      } else {
        if (lt > i) top.children += TextNode(html.substring(i, lt))
        if (lt + 1 >= n) { i = n }
        else html.charAt(lt + 1) match {
          case '!' =>
            if (html.startsWith("<!--", lt)) {
              val end = html.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else { // doctype / CDATA-ish: skip to '>'
              val end = html.indexOf('>', lt)
              i = if (end < 0) n else end + 1
            }
          case '?' =>
            val end = html.indexOf('>', lt)
            i = if (end < 0) n else end + 1
          case '/' =>
            val end = html.indexOf('>', lt)
            val name = (if (end < 0) html.substring(lt + 2) else html.substring(lt + 2, end))
              .trim.toLowerCase
            if (name.nonEmpty && openAncestor(name)) {
              while (top.tag != name) pop()
              if (stack.length > 1) pop()
            } // unmatched close: ignored
            i = if (end < 0) n else end + 1
          case c if c.isLetter =>
            val (tagEnd, name, attrs, selfClosed) = parseTag(html, lt)
            i = tagEnd
            val tag = name.toLowerCase
            // implicit closes
            if (tag == "li" && top.tag == "li") pop()
            if ((tag == "td" || tag == "th") && (top.tag == "td" || top.tag == "th")) pop()
            if (tag == "tr" && (top.tag == "td" || top.tag == "th")) pop()
            if (tag == "tr" && top.tag == "tr") pop()
            if (ClosesP.contains(tag) && openAncestor("p")) {
              while (top.tag != "p") pop()
              if (stack.length > 1) pop()
            }
            val el = Element(tag, attrs, mutable.ArrayBuffer.empty)
            top.children += el
            if (RawTextTags.contains(tag)) {
              // case-insensitive "</tag" scan without copying the document
              val needle = s"</$tag"
              var closeIdx = -1
              var k = i
              while (closeIdx < 0 && k <= n - needle.length) {
                if (html.regionMatches(true, k, needle, 0, needle.length)) closeIdx = k
                else k += 1
              }
              val end = if (closeIdx < 0) n else closeIdx
              el.children += TextNode(html.substring(i, end))
              val gt = html.indexOf('>', end)
              i = if (closeIdx < 0) n else (if (gt < 0) n else gt + 1)
            } else if (!selfClosed && !VoidTags.contains(tag)) push(el)
          case _ =>
            top.children += TextNode("<")
            i = lt + 1
        }
      }
    }
    root
  }

  /** Parse one start tag beginning at `lt`; returns (endIndex, name, attrs, selfClosed). */
  private def parseTag(html: String, lt: Int): (Int, String, Map[String, String], Boolean) = {
    var i = lt + 1
    val n = html.length
    val nameStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit || html.charAt(i) == '-')) i += 1
    val name = html.substring(nameStart, i)
    val attrs = mutable.LinkedHashMap.empty[String, String]
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      while (i < n && html.charAt(i).isWhitespace) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosed = true; i += 2; done = true }
          else i += 1
        case _ =>
          val aStart = i
          while (i < n && !html.charAt(i).isWhitespace &&
            html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val aName = html.substring(aStart, i).toLowerCase
          while (i < n && html.charAt(i).isWhitespace) i += 1
          var aVal = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && html.charAt(i).isWhitespace) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val q = html.charAt(i)
              val end = html.indexOf(q, i + 1)
              if (end < 0) { aVal = html.substring(i + 1); i = n }
              else { aVal = html.substring(i + 1, end); i = end + 1 }
            } else {
              val vStart = i
              while (i < n && !html.charAt(i).isWhitespace && html.charAt(i) != '>') i += 1
              aVal = html.substring(vStart, i)
            }
          }
          if (aName.nonEmpty) attrs.getOrElseUpdate(aName, decodeEntities(aVal))
      }
    }
    (i, name, attrs.toMap, selfClosed)
  }

  /** Visits the subtree under `node` in document order, with an explicit
    * stack, so nesting depth costs heap, not thread stack. `enter` is
    * called on each element and returns whether to visit its children;
    * `text` sees each text node; `leave` is called on each entered
    * element after its children (at once when `enter` returned false). */
  private[graft] def walk(node: Node, enter: Element => Boolean, text: String => Unit = _ => (),
      leave: Element => Unit = _ => ()): Unit = {
    // the entered elements not yet left, and the index of each one's next child
    val open = mutable.ArrayBuffer.empty[Element]
    var next = new Array[Int](16)
    def visit(n: Node): Unit = n match {
      case TextNode(t) => text(t)
      case e: Element =>
        if (!enter(e)) leave(e)
        else {
          if (open.length == next.length) next = java.util.Arrays.copyOf(next, next.length * 2)
          next(open.length) = 0
          open += e
        }
    }
    visit(node)
    while (open.nonEmpty) {
      val top = open.length - 1
      val e = open(top)
      val i = next(top)
      if (i == e.children.length) { leave(e); open.remove(top) }
      else { next(top) = i + 1; visit(e.children(i)) }
    }
  }

  /** Elements whose content is not visible text. */
  val HiddenTags: Set[String] = Set("script", "style", "template", "noscript")

  /** Normalized visible text of a subtree: entities decoded, whitespace
    * runs collapsed to single spaces, trimmed; [[HiddenTags]] excluded. */
  def visibleText(node: Node): String = {
    val sb = new java.lang.StringBuilder
    walk(node, e => {
      val visible = !HiddenTags(e.tag)
      if (visible && e.tag == "br") sb.append(' ')
      visible
    }, t => sb.append(decodeEntities(t)))
    collapseWs(sb.toString)
  }

  /** Whitespace as [[collapseWs]] sees it. */
  @inline def isCollapsedWs(c: Char): Boolean = Character.isWhitespace(c) || c == '\u00a0'

  def collapseWs(s: String): String = {
    val n = s.length
    // fast path: detect already-collapsed strings (no leading/trailing ws,
    // no ws run, every ws a plain space) and return the input unchanged \u2014
    // most short texts qualify, and the char-closure version of this loop
    // boxed every Char
    var i = 0
    var clean = true
    while (clean && i < n) {
      val c = s.charAt(i)
      if (isCollapsedWs(c) &&
          (c != ' ' || i == 0 || i == n - 1 || isCollapsedWs(s.charAt(i - 1)))) clean = false
      i += 1
    }
    if (clean) return s
    val sb = new java.lang.StringBuilder(n)
    var inWs = false
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isCollapsedWs(c)) inWs = true
      else {
        if (inWs && sb.length() > 0) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Characters of visible text under anchor (`<a>`) descendants —
    * numerator of the link-density boilerplate score. */
  def linkTextChars(node: Node): Int = {
    var count = 0
    var links = 0 // open `<a>` elements
    walk(node, e => {
      if (e.tag == "a") links += 1
      e.tag != "script" && e.tag != "style"
    }, t => if (links > 0) count += collapseWs(decodeEntities(t)).length,
      e => if (e.tag == "a") links -= 1)
    count
  }
}
