package graft.kernel

import graft.core.{PageDoc, PromptMode}
import graft.ops.LinkOps
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Structurally hostile HTML: markup nested deeper than the recursive DOM
  * walks' stack must cost one error row, never a thrown
  * `StackOverflowError` (which `case e: Exception` does not catch); the
  * per-op `LinkOps` entry points return their empty value for it. The
  * pages run on a thread with an explicit 512 KiB stack, so the overflow
  * happens on any JVM's default stack size. Unclosed markup must also
  * parse in time linear in its size. */
class DeepNestingSpec extends AnyFunSuite {

  private def doc(html: String) =
    PageDoc("https://deep.example/p", new java.sql.Timestamp(0L), html.getBytes(UTF_8), "", "en")

  /** Runs `body` on a thread with a 512 KiB stack; returns its result or
    * whatever it threw. */
  private def onSmallStack[A](body: => A): Either[Throwable, A] = {
    @volatile var out: Either[Throwable, A] = null
    val t = new Thread(null, () => {
      out = try Right(body) catch { case e: Throwable => Left(e) }
    }, "deep-nesting", 512L * 1024)
    t.start()
    t.join()
    out
  }

  private val pages = Seq(
    "10,000 nested <div>s" -> ("<html><body>" + "<div>" * 10000 + "x" + "</div>" * 10000 + "</body></html>"),
    "10,000 unclosed <b>s" -> ("<html><body>" + "<b>" * 10000 + "x</body></html>"))

  for ((name, html) <- pages) test(s"parseDoc on $name: one error row, nothing thrown") {
    onSmallStack(ExtractKernel.parseDoc(doc(html), PromptMode.LayoutAll)) match {
      case Left(e) => fail(s"parseDoc threw ${e.getClass.getName}")
      case Right(rows) =>
        assert(rows.length == 1)
        assert(rows.head.error.nonEmpty)
    }
  }

  for ((name, html) <- pages) test(s"LinkOps outlinksOf/anchorsOf/metaRobots on $name: nothing thrown") {
    val payload = html.getBytes(UTF_8)
    val calls = Seq[(String, () => Seq[Any])](
      "outlinksOf" -> (() => LinkOps.outlinksOf("https://deep.example/p", payload)),
      "anchorsOf" -> (() => LinkOps.anchorsOf("https://deep.example/p", payload)),
      "metaRobots" -> (() => LinkOps.metaRobots(payload)))
    assertNoneThrow(calls)
  }

  for ((name, html) <- pages) test(s"LinkOps page-level entry points on $name: nothing thrown") {
    val payload = html.getBytes(UTF_8)
    val calls = Seq[(String, () => Any)](
      "pageMetaOf" -> (() => LinkOps.pageMetaOf("https://deep.example/p", payload)),
      "watOf" -> (() => LinkOps.watOf("https://deep.example/p", 0L, payload)),
      "alternatesOf" -> (() => LinkOps.alternatesOf("https://deep.example/p", payload)),
      "parseSitemap" -> (() => LinkOps.parseSitemap(html)),
      "parseFeed" -> (() => LinkOps.parseFeed(html)))
    assertNoneThrow(calls)
  }

  private def assertNoneThrow(calls: Seq[(String, () => Any)]): Unit = {
    val thrown = calls.flatMap { case (fn, call) =>
      onSmallStack(call()).left.toOption.map(e => s"$fn threw ${e.getClass.getName}")
    }
    assert(thrown.isEmpty, thrown.mkString("; "))
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
