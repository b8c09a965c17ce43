package graft.kernel

import graft.core.{PageDoc, ParsedPage, PromptMode}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Structurally hostile HTML: markup nested deeper than the recursive DOM
  * walks' stack must cost one error row, never a thrown
  * `StackOverflowError` (which `case e: Exception` does not catch). The
  * pages run on a thread with an explicit 512 KiB stack, so the overflow
  * happens on any JVM's default stack size. */
class DeepNestingSpec extends AnyFunSuite {

  private def doc(html: String) =
    PageDoc("https://deep.example/p", new java.sql.Timestamp(0L), html.getBytes(UTF_8), "", "en")

  /** Runs `body` on a thread with a 512 KiB stack; returns its result or
    * whatever it threw. */
  private def onSmallStack(body: => Vector[ParsedPage]): Either[Throwable, Vector[ParsedPage]] = {
    @volatile var out: Either[Throwable, Vector[ParsedPage]] = null
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
}
