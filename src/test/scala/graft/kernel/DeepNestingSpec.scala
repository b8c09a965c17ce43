package graft.kernel

import graft.core.{Categories, PageDoc, ParsedPage, PromptMode}
import graft.ops.LinkOps
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Structurally hostile input: markup, a model response and a PDF-lite
  * layout nested far deeper than a recursion over them could go, and
  * runs of digits or codes longer than a backtracking regex could repeat
  * over. The DOM walks and XY-cut run off explicit stacks, the JSON parse
  * stops at [[PyJson.MaxDepth]] and those scans are loops, so a deep page
  * gets the extraction of the same page built 10 deep, and each `LinkOps`
  * entry point returns what it returns at depth 10. The pages run on a
  * thread with an explicit 512 KiB stack, so a recursion left over would
  * overflow on any JVM's default stack size. Unclosed markup must also
  * parse, and its anchors be read, in time linear in its size. */
class DeepNestingSpec extends AnyFunSuite {

  private val url = "https://deep.example/p"

  private def doc(payload: Array[Byte]) =
    PageDoc(url, new java.sql.Timestamp(0L), payload, "", "en")

  /** Runs `body` on a thread with a `stackKiB` stack (0: the JVM's
    * default); returns its result or whatever it threw. */
  private def onThread[A](body: => A, stackKiB: Long = 512): Either[Throwable, A] = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(null, () => {
      out = try Right(body) catch { case e: Throwable => Left(e) }
    }, "deep-nesting", stackKiB * 1024)
    t.start()
    t.join()
    out
  }

  /** What the bottom of each deep page carries, so that every LinkOps
    * entry point has something to find there. */
  private val bottom =
    """<a href="/next">next page</a><link rel="alternate" hreflang="de" href="/de">""" +
      """<meta name="robots" content="noindex"><title>deep</title><li>an item</li>""" +
      """<url><loc>https://deep.example/s</loc></url>""" +
      """<item><link>https://deep.example/f</link><title>f</title></item>"""

  private def markup(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Blocks stacked top to bottom, each gap 1 pt wider than the one
    * above it, written bottom first: XY-cut splits off the last block,
    * then the last of the rest, `n` cuts deep. */
  private def widening(n: Int): Array[Byte] = {
    val blocks = (0 until n).map { i =>
      val y = i * 18f + i * (i - 1) / 2f
      PdfLite.PdfBlock(10f, y, 90f, y + 10f, Categories.Text, s"b$i")
    }
    val height = n * 18f + n * n / 2f
    PdfLite.serialize(PdfLite.PdfDoc(Vector(
      PdfLite.PdfPage(height / 100 + 100, height, blocks.reverse.toVector))))
  }

  /** One JSON cell whose `text` is a list, the whole response `d` deep. */
  private def deepText(d: Int): Array[Byte] = markup(
    """[{"bbox": [1, 2, 30, 40], "category": "Text", "text": """ +
      "[" * (d - 2) + "]" * (d - 2) + "}]")

  /** One JSON cell whose first bbox coordinate is a list, `d` deep. */
  private def deepBbox(d: Int): Array[Byte] = markup(
    """[{"bbox": [""" + "[" * (d - 3) + "]" * (d - 3) +
      """, 2, 30, 40], "category": "Text", "text": "t"}]""")

  /** Two equal cells whose `text` is a list, the whole response `d` deep:
    * the cleaner's dedup hashes and compares both nests. */
  private def twoDeepCells(d: Int): Array[Byte] = {
    val cell = """{"bbox": [1, 2, 30, 40], "category": "Text", "text": """ +
      "[" * (d - 2) + "]" * (d - 2) + "}"
    markup(s"[$cell, $cell]")
  }

  /** (name, depth, payload at a depth): each page runs at its depth and
    * at depth 10. */
  private val pages = Seq[(String, Int, Int => Array[Byte])](
    ("10,000 nested <div>s", 10000, n => markup(
      "<html><body>" + "<div>" * n + "x" + bottom + "</div>" * n + "</body></html>")),
    ("10,000 unclosed <b>s", 10000, n => markup(
      "<html><body>" + "<b>" * n + "x" + bottom + "</body></html>")),
    ("<p> + 10,000 <span>s + <a href>", 10000, n => markup(
      "<html><body><p>some words before the link " + "<span>" * n + bottom +
        "</span>" * n + "</p></body></html>")),
    ("a garbled payload of 100,000 [", 100000, n => markup("[" * n)),
    (s"a JSON response nested ${PyJson.MaxDepth} deep", PyJson.MaxDepth, deepText),
    (s"a JSON response nested ${PyJson.MaxDepth + 1} deep", PyJson.MaxDepth + 1, deepBbox),
    (s"two equal JSON cells nested ${PyJson.MaxDepth} deep", PyJson.MaxDepth, twoDeepCells),
    // the coordinate is a string of n digits, n - 1 of them zeros: the
    // value is 1 at any length
    ("a bbox coordinate of 100,000 digits", 100000, n => markup(
      """[{"bbox": [""" + "\"" + "0" * (n - 1) + "1\"" +
        """, 2, 30, 40], "category": "Text", "text": "t"}]""")),
    ("a PDF-lite page of 3,000 blocks whose gaps widen", 3000, widening))

  /** The page's one row. A filtered row echoes the raw response as its
    * `cells_json`; that echo is masked, so rows of two depths compare. */
  private def rowOf(payload: Array[Byte]): ParsedPage = {
    val rows = ExtractKernel.parseDoc(doc(payload), PromptMode.LayoutAll)
    assert(rows.length == 1)
    val echo = PyJson.dumps(JString(new String(payload, UTF_8)))
    rows.head.copy(cells_json = rows.head.cells_json.replace(echo, "<response>"))
  }

  private def cellsOf(row: ParsedPage): Vector[JObject] =
    PyJson.parse(row.cells_json).asInstanceOf[JArray].items.map(_.asInstanceOf[JObject])

  for ((name, depth, build) <- pages)
    test(s"parseDoc on $name: the row of the same input 10 deep") {
      val deep = onThread(rowOf(build(depth))).fold(e => fail(s"parseDoc threw $e"), identity)
      val shallow = rowOf(build(10))
      assert(deep.error == shallow.error)
      // the deep PDF page has more cells, at another render scale: they
      // must come top to bottom
      if (name.contains("PDF"))
        assert(cellsOf(deep).map(_.get("text")) == (0 until depth).map(i => Some(JString(s"b$i"))))
      else assert(deep == shallow)
    }

  test("parseDoc on 2,000 nested <div>s and <span>s on a default-size stack: the row of 10 deep") {
    for (tag <- Seq("div", "span")) {
      def page(n: Int) = markup("<html><body>" + s"<$tag>" * n + "x" + s"</$tag>" * n + "</body></html>")
      val deep = onThread(rowOf(page(2000)), stackKiB = 0)
      assert(deep == Right(rowOf(page(10))), tag)
    }
  }

  for ((name, depth, build) <- pages) test(s"LinkOps outlinksOf/anchorsOf/metaRobots on $name: nothing thrown") {
    assertAsTenDeep(depth, build, payload => Seq[(String, () => Any)](
      "outlinksOf" -> (() => LinkOps.outlinksOf(url, payload)),
      "anchorsOf" -> (() => LinkOps.anchorsOf(url, payload)),
      "metaRobots" -> (() => LinkOps.metaRobots(payload))))
  }

  for ((name, depth, build) <- pages) test(s"LinkOps page-level entry points on $name: nothing thrown") {
    assertAsTenDeep(depth, build, { payload =>
      val text = new String(payload, UTF_8)
      Seq[(String, () => Any)](
        "pageMetaOf" -> (() => LinkOps.pageMetaOf(url, payload)),
        "watOf" -> (() => LinkOps.watOf(url, 0L, payload)),
        "alternatesOf" -> (() => LinkOps.alternatesOf(url, payload)),
        "blocksOfDom" -> (() => LinkOps.blocksOfDom(HtmlDom.parse(text))),
        "parseSitemap" -> (() => LinkOps.parseSitemap(text)),
        "parseFeed" -> (() => LinkOps.parseFeed(text)))
    })
  }

  /** Each call on the deep payload returns, on the small stack, what it
    * returns on the payload built 10 deep. On HTML pages each call finds
    * something at the bottom. */
  private def assertAsTenDeep(depth: Int, build: Int => Array[Byte],
      calls: Array[Byte] => Seq[(String, () => Any)]): Unit = {
    val shallow = build(10)
    val isHtml = ExtractKernel.looksLikeHtml(shallow)
    val wrong = calls(build(depth)).zip(calls(shallow)).flatMap { case ((fn, deep), (_, tenDeep)) =>
      val expected = tenDeep()
      if (isHtml && (expected == Nil || expected == (("", "", "")))) Some(s"$fn found nothing 10 deep")
      else onThread(deep()) match {
        case Left(e)                 => Some(s"$fn threw ${e.getClass.getName}")
        case Right(r) if r != expected => Some(s"$fn returned $r, 10 deep $expected")
        case _                       => None
      }
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("LinkOps.anchorsOf on 20,000 unclosed <a href>s: under 1 s, each anchor's text") {
    val n = 20000
    val payload = markup("<html><body>" + """<a href="/x">t """ * n + "</body></html>")
    val t0 = System.nanoTime()
    val anchors = onThread(LinkOps.anchorsOf(url, payload)).fold(e => fail(s"anchorsOf threw $e"), identity)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(seconds < 1.0, f"anchorsOf took $seconds%.2f s")
    // the anchors nest, so anchor i holds the n - i words after it
    val expected = (0 until n).map(i => ("https://deep.example/x",
      Seq.fill(math.min(n - i, LinkOps.MaxAnchorChars))("t").mkString(" ").take(LinkOps.MaxAnchorChars)))
    assert(anchors == expected)
  }

  test("PdfReal ToUnicode CMap with a bfrange array of 50,000 codes: every code mapped") {
    val n = 50000
    val cmap = "begincodespacerange <0000> <FFFF> endcodespacerange\n1 beginbfrange\n" +
      f"<0000> <${n - 1}%04X> [" + "<0041> " * n + "]\nendbfrange"
    val parsed = onThread(PdfReal.parseToUnicodeCMap(cmap)).fold(e => fail(s"parse threw $e"), identity)
    assert(parsed.codeBytes == 2 && parsed.map == (0 until n).map(_ -> "A").toMap)
  }

  // XY-cut peels one block per level off the widening page, so its time
  // is quadratic in the block count; each level costs O(m) over index
  // arrays (0.05–0.08 s and 0.30–0.35 s measured, 4-core box, JDK 17)
  for ((name, n, bound) <- Seq(("3,000", 3000, 0.4), ("10,000", 10000, 1.5)))
    test(s"PdfLite.readingOrder of $name blocks whose gaps widen: under $bound s, top to bottom") {
      val page = PdfLite.parse(widening(n)).pages.head
      val t0 = System.nanoTime()
      val ordered = onThread(PdfLite.readingOrder(page.blocks)).fold(e => fail(s"readingOrder threw $e"), identity)
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(seconds < bound, f"readingOrder took $seconds%.2f s")
      assert(ordered.map(_.text) == (0 until n).map(i => s"b$i"))
    }

  test("HtmlDom.parse of 20,000 unclosed <div><p>t</p> units: under 1 s, divs nested") {
    val units = 20000
    val html = "<html><body>" + "<div><p>t</p>" * units + "</body></html>"
    val t0 = System.nanoTime()
    val root = HtmlDom.parse(html)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(seconds < 1.0, f"parse took $seconds%.2f s")
    // each <div> stays open, so the divs nest: follow the last-child chain
    @annotation.tailrec
    def divDepth(e: HtmlDom.Element, acc: Int): Int = e.children.lastOption match {
      case Some(c: HtmlDom.Element) => divDepth(c, if (c.tag == "div") acc + 1 else acc)
      case _ => acc
    }
    assert(divDepth(root, 0) == units)
  }
}
