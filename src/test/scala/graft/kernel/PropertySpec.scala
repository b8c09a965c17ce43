package graft.kernel

import graft.core.{Categories, ParsedPage, PromptMode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Property suites from SURVEY.md §5.2 (raw ScalaCheck generators driven
  * from a fixed seed — scalatestplus isn't in the offline cache). */
class PropertySpec extends AnyFunSuite {

  def forAll[T](g: Gen[T], n: Int = 200)(f: T => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(12345L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 50) {
      g.apply(params, seed).foreach { v => f(v); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too restrictive: $produced of $n")
  }

  val dims: Gen[(Long, Long)] = for {
    h <- Gen.choose(1L, 8000L)
    w <- Gen.choose(1L, 8000L)
    if math.max(h, w).toDouble / math.min(h, w) <= 200
  } yield (h, w)

  test("smart_resize invariants: divisibility, pixel window, aspect") {
    forAll(dims) { hw => val (h, w) = hw;
      val (hb, wb) = Geometry.smartResize(h, w)
      assert(hb % 28 == 0 && wb % 28 == 0)
      assert(hb * wb <= Geometry.MaxPixels)
      // min-pixels can only be violated by the factor floor on extremes
      assert(hb * wb >= Geometry.MinPixels || hb == 28 || wb == 28)
      // aspect preserved within one factor step on each side
      val r0 = h.toDouble / w
      val r1 = hb.toDouble / wb
      assert(r1 / r0 < 3.0 && r0 / r1 < 3.0)
    }
  }

  test("smart_resize idempotent on its own output") {
    forAll(dims) { hw => val (h, w) = hw;
      val (hb, wb) = Geometry.smartResize(h, w)
      assert(Geometry.smartResize(hb, wb) == ((hb, wb)))
    }
  }

  val bboxGen: Gen[(Long, Long, Long, Long)] = for {
    x1 <- Gen.choose(0L, 2000L); y1 <- Gen.choose(0L, 2000L)
    dw <- Gen.choose(1L, 1000L); dh <- Gen.choose(1L, 1000L)
  } yield (x1, y1, x1 + dw, y1 + dh)

  test("bbox pre∘post round-trip within truncation error") {
    val geom = for {
      (h, w) <- dims.suchThat { case (h, w) => h >= 100 && w >= 100 }
      b <- bboxGen.suchThat { case (x1, y1, x2, y2) => x2 <= w && y2 <= h }
    } yield (h, w, b)
    forAll(geom) { g => val (h, w, (x1, y1, x2, y2)) = g;
      val (ih, iw) = Geometry.smartResize(h, w)
      val cell = JObject("bbox" -> JArray(Vector(x1, y1, x2, y2).map(JInt(_))),
        "category" -> JString("Text"))
      // post: input→original space; pre: original→input space
      val post = BboxScale.postProcessCells(w, h, Vector(cell), iw, ih)
      val JArray(pb) = post.head.asInstanceOf[JObject].get("bbox").get
      val back = BboxScale.preProcessBboxes(w, h, Vector(pb), iw, ih).head
      val orig = Vector(x1, y1, x2, y2)
      back.zip(orig).foreach { case (b, o) =>
        // each direction truncates: error ≤ ceil(scale) per hop
        val scale = math.max(w.toDouble / iw, h.toDouble / ih)
        assert((b.toLong - o).abs <= math.ceil(scale).toLong + 1, s"$back vs $orig")
      }
    }
  }

  val cellGen: Gen[JValue] = for {
    x1 <- Gen.choose(0, 500); y1 <- Gen.choose(0, 500)
    w <- Gen.choose(1, 300); h <- Gen.choose(1, 300)
    cat <- Gen.oneOf(graft.core.Categories.All)
    text <- Gen.oneOf("plain", "中文内容", "Привет", "$$x$$", "a\nb", "")
    dropText <- Gen.prob(0.2)
  } yield {
    var o = JObject(
      "bbox" -> JArray(Vector(x1, y1, x1 + w, y1 + h).map(v => JInt(BigInt(v)))),
      "category" -> JString(cat))
    if (!dropText) o = o.updated("text", JString(text))
    o
  }

  test("cleaner idempotent on already-clean serialized cells") {
    forAll(Gen.listOfN(6, cellGen)) { cells =>
      val json = PyJson.dumps(JArray(cells.toVector))
      val once = OutputRepair.cleanModelOutput(Right(json))
      val twice = OutputRepair.cleanModelOutput(Right(PyJson.dumps(JArray(once))))
      assert(PyJson.dumps(JArray(once)) == PyJson.dumps(JArray(twice)))
    }
  }

  test("C7 dedup preserves order and keeps first occurrences") {
    forAll(Gen.listOfN(12, cellGen)) { cells =>
      val out = OutputRepair.dedupPairsAndBbox(cells.toVector)
      // order preserved: out is a subsequence of input
      var i = 0
      out.foreach { o =>
        val j = cells.indexWhere(_ eq o, i)
        val j2 = if (j < 0) cells.indexOf(o, i) else j
        assert(j2 >= i, "order not preserved")
        i = j2 + 1
      }
      // no bbox occurs twice in the output
      val bboxes = out.collect { case o: JObject => o.get("bbox") }.flatten
      assert(bboxes.distinct.size == bboxes.size)
    }
  }

  test("PyJson dumps∘parse is identity on generated values") {
    val leaf: Gen[JValue] = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L).map(v => JInt(BigInt(v))),
      Gen.choose(-1e6, 1e6).map(JDouble(_)),
      Gen.oneOf("", "text", "汉字", "a\"b\\c", "line\nbreak", "ctl").map(JString(_)),
      Gen.oneOf(JBool(true), JBool(false), JNull))
    val value: Gen[JValue] = for {
      items <- Gen.listOfN(5, leaf)
      keys <- Gen.listOfN(3, Gen.alphaNumStr.suchThat(_.nonEmpty))
      inner <- Gen.listOfN(3, leaf)
    } yield JArray(items.toVector :+ JObject(keys.zip(inner).toVector.distinctBy(_._1)))
    forAll(value) { v =>
      assert(PyJson.parse(PyJson.dumps(v)) == v)
    }
  }

  test("page combine associativity across splits") {
    forAll(Gen.listOfN(6, Gen.alphaStr)) { mds =>
      val pages = mds.zipWithIndex.map { case (m, i) => (i, m) }
      val whole = MdRender.combinePages(pages)
      val (a, b) = pages.splitAt(3)
      val recombined = (MdRender.combinePages(a), MdRender.combinePages(b)) match {
        case (x, y) if a.isEmpty => y
        case (x, y) if b.isEmpty => x
        case (x, y)              => x + "\n\n---\n\n" + y
      }
      assert(whole == recombined)
    }
  }

  /** XY-cut as it was written before it ran off an explicit stack: the
    * reference the iterative `PdfLite.readingOrder` must equal. */
  private def recursiveReadingOrder(blocks: Vector[PdfLite.PdfBlock]): Vector[PdfLite.PdfBlock] = {
    if (blocks.length <= 1) return blocks
    val MinGap = 8.0f
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
    def cut(bs: Vector[PdfLite.PdfBlock]): Vector[PdfLite.PdfBlock] = {
      if (bs.length <= 1) return bs
      val yGap = largestGap(bs.map(b => (b.y1, b.y2)))
      val xGap = largestGap(bs.map(b => (b.x1, b.x2)))
      (yGap, xGap) match {
        case (Some((yc, yw)), Some((xc, xw))) if yw >= xw =>
          val (a, b) = bs.partition(bl => (bl.y1 + bl.y2) / 2 < yc)
          if (a.nonEmpty && b.nonEmpty) return cut(a) ++ cut(b)
        case (_, Some((xc, _))) =>
          val (a, b) = bs.partition(bl => (bl.x1 + bl.x2) / 2 < xc)
          if (a.nonEmpty && b.nonEmpty) return cut(a) ++ cut(b)
        case (Some((yc, _)), None) =>
          val (a, b) = bs.partition(bl => (bl.y1 + bl.y2) / 2 < yc)
          if (a.nonEmpty && b.nonEmpty) return cut(a) ++ cut(b)
        case (None, None) => ()
      }
      bs.sortBy(b => (b.y1, b.x1))
    }
    cut(blocks)
  }

  test("PdfLite.readingOrder equals the recursive XY-cut on random block sets") {
    // coordinates on a coarse grid, so gaps of both axes open and tie
    // (equal widths, equal starts) often
    val block: Gen[(Int, Int, Int, Int)] = for {
      x <- Gen.choose(0, 40); y <- Gen.choose(0, 60)
      w <- Gen.choose(1, 12); h <- Gen.choose(1, 4)
    } yield (x, y, w, h)
    val pages = for {
      n <- Gen.choose(0, 200)
      step <- Gen.oneOf(4f, 8f, 10f, 25f)
      bs <- Gen.listOfN(n, block)
    } yield bs.zipWithIndex.toVector.map { case ((x, y, w, h), i) =>
      PdfLite.PdfBlock(x * step, y * step, (x + w) * step, (y + h) * step, "Text", s"b$i")
    }
    forAll(pages, n = 300) { bs =>
      assert(PdfLite.readingOrder(bs) == recursiveReadingOrder(bs))
    }
  }

  test("PdfLite.readingOrder equals the recursive XY-cut with NaN, ±Inf, -0.0 and duplicate coordinates") {
    val special = Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f)
    val coord: Gen[Float] = Gen.frequency(8 -> Gen.choose(0, 12).map(_ * 10f), 1 -> special)
    val block: Gen[(Float, Float, Float, Float)] = for {
      x1 <- coord; y1 <- coord; x2 <- coord; y2 <- coord
    } yield (x1, y1, x2, y2)
    val pages = for {
      n <- Gen.choose(0, 60)
      distinct <- Gen.listOfN(n, block)
      // every block once, some two or three times, in random order
      copies <- Gen.listOfN(n, Gen.frequency(3 -> 1, 1 -> 2, 1 -> 3))
      all = distinct.zip(copies).flatMap { case (b, k) => Seq.fill(k)(b) }
      keys <- Gen.listOfN(all.length, Gen.choose(0, Int.MaxValue))
    } yield all.zip(keys).sortBy(_._2).map(_._1).toVector.zipWithIndex.map { case ((x1, y1, x2, y2), i) =>
      PdfLite.PdfBlock(x1, y1, x2, y2, "Text", s"b$i")
    }
    // texts name the blocks: a NaN coordinate makes equal blocks unequal
    forAll(pages, n = 300) { bs =>
      assert(PdfLite.readingOrder(bs).map(_.text) == recursiveReadingOrder(bs).map(_.text))
    }
  }

  /** What the trusted tail specializes: [[ExtractKernel.classifierCells]]
    * → `postProcessCells` → `dumps` / `renderSegments` + `segmentsToMd` /
    * `cellTexts`, with the repair fallback (`finishLayout`) on a
    * KernelError or AspectRatioError after the input-space cells exist. */
  private def jsonValueTail(layout: HtmlExtract.PageLayout, mode: PromptMode,
      iw: Long, ih: Long): ParsedPage = {
    val cells = ExtractKernel.classifierCells(layout, mode, iw, ih)
    try {
      val post = BboxScale.postProcessCells(layout.width, layout.height, cells, iw, ih)
      val (md, mdNohf) =
        if (mode == PromptMode.LayoutOnly) ("", "")
        else {
          val segs = MdRender.renderSegments(post, raster = layout.raster)
          (MdRender.segmentsToMd(segs, noPageHf = false), MdRender.segmentsToMd(segs, noPageHf = true))
        }
      ParsedPage("u", 3, ih.toInt, iw.toInt, layout.height.toInt, layout.width.toInt,
        PyJson.dumps(JArray(post)), md, mdNohf,
        ExtractKernel.cellTexts(post, includeHf = false).mkString("\n\n"), filtered = false, error = "")
    } catch {
      case _: BboxScale.KernelError | _: Geometry.AspectRatioError =>
        ExtractKernel.finishLayout("u", 3, mode, PyJson.dumps(JArray(cells)),
          layout.width, layout.height, iw, ih, layout.raster)
    }
  }

  private def outcome[A](body: => A): Either[String, A] =
    try Right(body) catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** A 56×84 RGB page raster: smart_resize keeps those dims, so a box in
    * page space comes back from input space unchanged. */
  private lazy val pagePng: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(56, 84, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 56; y <- 0 until 84) img.setRGB(x, y, (x * 4) << 16 | (y * 3) << 8 | ((x + y) & 0xff))
    val out = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("the trusted tail equals the JSON-value tail on random layouts, LayoutAll and LayoutOnly") {
    val pad = Gen.oneOf("", " ", "\n", "\u00a0", "\u3000", "\u001c")
    val textChar = Gen.oneOf('a', 'z', ' ', '"', '\\', '\n', '\t', '\u0001', '\u001f', 'é', '$', '`',
      '{', '}', '\u00a0', '\u3000', '\u001c', '中')
    val text: Gen[String] = for {
      core <- Gen.frequency(
        1 -> Gen.const(""),
        2 -> Gen.oneOf("$$x^2$$", "\\[a+b\\]", "\\alpha + \\beta", "`$x$`", "$a$ and $b$",
          "\\frac{1}{2}", "\\usepackage{amsmath}", "\\begin{x}y\\end{x}"),
        6 -> Gen.listOf(textChar).map(_.mkString))
      before <- pad; after <- pad
    } yield before + core + after
    // a formula of preamble commands only raises "string index out of range"
    def raises(category: String, t: Option[String]) =
      category == Categories.Formula && t.exists(_.contains("usepackage"))
    val plainCoord = Gen.choose(-50L, 3000L).map(JInt(_))
    val oddCoord: Gen[JValue] = Gen.oneOf(
      JInt(BigInt(1) << 52), JInt(-(BigInt(1) << 53)), JInt(BigInt(10).pow(30)),
      JDouble(Double.NaN), JDouble(Double.PositiveInfinity), JDouble(Double.NegativeInfinity),
      JDouble(-0.0), JDouble(1e30), JDouble(12.0))
    // (cell, clean): clean cells are ones the trusted tail must accept
    def cell(boxes: Gen[Vector[Long]]): Gen[(JObject, Boolean)] = for {
      category <- Gen.oneOf(Categories.All)
      box <- boxes
      odd <- Gen.frequency(30 -> Gen.const(Option.empty[(Int, JValue)]),
        1 -> Gen.choose(0, 3).flatMap(i => oddCoord.map(v => Option((i, v)))))
      t <- Gen.frequency(4 -> text.map(Option(_)), 1 -> Gen.const(Option.empty[String]))
      shape <- Gen.frequency(40 -> "trusted", 1 -> "reordered", 1 -> "extra key", 1 -> "int text",
        1 -> "null text", 1 -> "int category", 1 -> "three coordinates")
    } yield {
      val coords = odd.foldLeft(box.map(v => JInt(v): JValue)) { case (b, (i, v)) => b.updated(i, v) }
      val bbox = "bbox" -> JArray(if (shape == "three coordinates") coords.take(3) else coords)
      val cat = "category" -> (if (shape == "int category") JInt(3) else JString(category))
      val txt = t.map(s => "text" -> (shape match {
        case "int text"  => JInt(7)
        case "null text" => JNull
        case _           => JString(s)
      }))
      val fields = shape match {
        case "reordered" => Vector(cat, bbox) ++ txt
        case "extra key" => Vector(bbox, cat) ++ txt :+ ("score" -> JDouble(0.5))
        case _           => Vector(bbox, cat) ++ txt
      }
      (JObject(fields), shape == "trusted" && odd.isEmpty && !raises(category, t))
    }
    val anyBox = Gen.listOfN(4, Gen.choose(-50L, 3000L)).map(_.toVector)
    // full-bleed, inside and out-of-bounds boxes over the 56×84 raster
    val rasterBox = Gen.oneOf(Vector(0L, 0L, 56L, 84L), Vector(5L, 7L, 30L, 40L),
      Vector(-10L, -5L, 70L, 100L), Vector(20L, 30L, 20L, 50L))
    val pictureCell = rasterBox.map(b => (JObject("bbox" -> JArray(b.map(JInt(_))),
      "category" -> JString(Categories.Picture)), true))
    val rasterPage = for {
      n <- Gen.choose(1, 5)
      cells <- Gen.listOfN(n, Gen.frequency(2 -> pictureCell, 1 -> cell(rasterBox)))
    } yield (HtmlExtract.PageLayout(56, 84, cells.map(_._1).toVector,
      raster = Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(pagePng))), cells.forall(_._2))
    val plainPage = for {
      w <- Gen.frequency(12 -> Gen.choose(40L, 3000L), 1 -> Gen.const(0L), 1 -> Gen.const(30000L))
      h <- Gen.choose(40L, 3000L)
      render <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.zip(Gen.choose(40L, 5000L), Gen.choose(40L, 5000L)).map(Some(_)))
      n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 10))
      cells <- Gen.listOfN(n, cell(anyBox))
    } yield (HtmlExtract.PageLayout(w, h, cells.map(_._1).toVector, renderDims = render),
      n > 0 && cells.forall(_._2))
    val pages = for {
      (layout, cleanCells) <- Gen.frequency(1 -> rasterPage, 4 -> plainPage)
      // the input dims parseLayout derives, or dims whose aspect ratio is
      // over 200, so post_process_cells' smart_resize raises
      extreme <- Gen.frequency(8 -> false, 1 -> true)
      fallback <- Gen.zip(Gen.choose(1L, 100L), Gen.choose(1L, 100L)).map { case (a, b) => (a * 28, b * 28) }
    } yield {
      val (srcH, srcW) = layout.renderDims.getOrElse((layout.height, layout.width))
      val resized = outcome(Geometry.smartResize(srcH, srcW)).toOption
      val (ih, iw) = if (extreme) (28L, 28L * 250) else resized.getOrElse(fallback)
      (layout, iw, ih, cleanCells && !extreme && resized.isDefined)
    }
    var accepted = 0
    var acceptedPictures = 0
    forAll(pages, n = 500) { case (layout, iw, ih, clean) =>
      for (mode <- Seq(PromptMode.LayoutAll, PromptMode.LayoutOnly)) {
        val expected = outcome(jsonValueTail(layout, mode, iw, ih))
        outcome(ExtractKernel.trustedTail("u", 3, mode, layout, iw, ih)) match {
          case Right(Some(page)) =>
            assert(expected == Right(page), s"$mode $layout")
            accepted += 1
            if (layout.raster.isDefined && mode == PromptMode.LayoutAll) acceptedPictures += 1
          case Right(None) => assert(!clean, s"declined a clean page: $mode $layout")
          case thrown      => assert(expected == thrown, s"$mode $layout")
        }
      }
    }
    // about three in four of the 1,000 (page, mode) pairs are accepted
    assert(accepted > 300 && acceptedPictures > 40, s"accepted $accepted, with a raster $acceptedPictures")
  }

  test("PyStr.pyFloat's scan accepts what the float grammar regex accepts") {
    // the regex it replaced, as the reference
    def viaRegex(raw: String): Option[Double] = {
      val s = PyStr.strip(raw).toLowerCase
      val (sign, body) =
        if (s.startsWith("+")) (1.0, s.substring(1))
        else if (s.startsWith("-")) (-1.0, s.substring(1))
        else (1.0, s)
      if (s.isEmpty) None
      else if (body == "inf" || body == "infinity") Some(sign * Double.PositiveInfinity)
      else if (body == "nan") Some(Double.NaN)
      else if (!body.matches("(\\d(_?\\d)*)?(\\.(\\d(_?\\d)*)?)?(e[+-]?\\d(_?\\d)*)?") ||
          !body.exists(_.isDigit)) None
      else try Some(sign * body.replace("_", "").toDouble)
      catch { case _: NumberFormatException => None }
    }
    val strs = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("0", "1", "9", "_", "_", ".", "e", "E", "+", "-", " ", "x", "d", "\u0663"))
        .map(_.mkString))
    forAll(strs, n = 5000) { s =>
      assert(PyStr.pyFloat(s).map(_.toString) == viaRegex(s).map(_.toString), s)
    }
  }

  test("LinkOps anchor texts equal each <a href>'s capped visibleText on random markup") {
    import graft.ops.LinkOps
    val tags = Seq("a", "a", "a", "b", "p", "div", "span", "noscript", "template", "script", "style", "br", "title")
    val words = Seq("t", "word", "&amp;", "&nbsp;", " ", "  \n ", "\u00a0", "\ud83d\ude00", "z" * 50, "&#x41;")
    def markup(depth: Int): Gen[String] =
      if (depth == 0) Gen.listOfN(3, Gen.oneOf(words)).map(_.mkString)
      else Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.frequency(
        2 -> Gen.oneOf(words),
        3 -> (for {
          t <- Gen.oneOf(tags); inner <- markup(depth - 1); close <- Gen.oneOf(true, true, false)
        } yield s"""<$t href="https://h.example/$t">$inner""" + (if (close) s"</$t>" else ""))))
        .map(_.mkString))
    def cap(s: String): String =
      if (s.length <= LinkOps.MaxAnchorChars) s
      else s.substring(0, if (Character.isHighSurrogate(s.charAt(LinkOps.MaxAnchorChars - 1)))
        LinkOps.MaxAnchorChars - 1 else LinkOps.MaxAnchorChars)
    forAll(markup(5), n = 1000) { html =>
      val root = HtmlDom.parse("<html><body>" + html + "</body></html>")
      val expected = Vector.newBuilder[String]
      HtmlDom.walk(root, e => {
        if (e.tag == "a") expected += cap(HtmlDom.visibleText(e))
        true
      })
      assert(LinkOps.artifactsOfDom("https://p.example/", root)._1.map(_._2) == expected.result(), html)
    }
  }
}
