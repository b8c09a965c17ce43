package graft.kernel

/** Python string-semantics helpers. The reference leans on `str.strip()` /
  * `str.rstrip()` and `re` `\s`, whose whitespace sets differ from the JVM's
  * (e.g. U+00A0 is Python-whitespace but not `Character.isWhitespace`;
  * U+001C..1F are Python-whitespace but not Unicode White_Space). See
  * SURVEY.md §7.4 hazard 4.
  */
object PyStr {

  /** The character set for which CPython `str.isspace()` is true. */
  def isPySpace(c: Char): Boolean = {
    val i = c.toInt
    (i >= 0x09 && i <= 0x0d) || i == 0x20 ||
    (i >= 0x1c && i <= 0x1f) || i == 0x85 || i == 0xa0 ||
    i == 0x1680 || (i >= 0x2000 && i <= 0x200a) ||
    i == 0x2028 || i == 0x2029 || i == 0x202f || i == 0x205f || i == 0x3000
  }

  /** Python regex `\s` char class, spelled out for Java regex. */
  val WS: String = "[ \\t\\n\\x0b\\f\\r\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]"

  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  def rstrip(s: String): String = {
    var j = s.length
    while (j > 0 && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(0, j)
  }

  /** CPython `int(s)` for a pre-stripped string: optional sign + decimal
    * digits (underscore separators allowed between digits per PEP 515).
    * Returns None where Python would raise ValueError. */
  def pyInt(raw: String): Option[BigInt] = {
    val s = strip(raw)
    if (s.isEmpty) return None
    var i = 0
    if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
    if (i >= s.length) return None
    val sb = new java.lang.StringBuilder
    if (s.charAt(0) == '-') sb.append('-')
    var prevDigit = false
    var k = i
    while (k < s.length) {
      val c = s.charAt(k)
      if (c >= '0' && c <= '9') { sb.append(c); prevDigit = true }
      else if (c == '_') {
        // must be between digits
        if (!prevDigit || k + 1 >= s.length || !s.charAt(k + 1).isDigit) return None
        prevDigit = false
      } else return None
      k += 1
    }
    if (sb.length == 0 || (sb.length == 1 && sb.charAt(0) == '-')) None
    else Some(BigInt(sb.toString))
  }

  /** CPython `float(s)` subset used by the reference (`float(bbox[i])`,
    * /root/reference/dots_ocr/utils/layout_utils.py:137-140): strips, accepts
    * sign, decimal/exponent forms, inf/nan spellings. */
  def pyFloat(raw: String): Option[Double] = {
    val s = strip(raw)
    if (s.isEmpty) return None
    val lower = s.toLowerCase
    val (sign, body) =
      if (lower.startsWith("+")) (1.0, lower.substring(1))
      else if (lower.startsWith("-")) (-1.0, lower.substring(1))
      else (1.0, lower)
    body match {
      case "inf" | "infinity" => return Some(sign * Double.PositiveInfinity)
      case "nan"              => return Some(Double.NaN)
      case _                  =>
    }
    // body must be `digits? ('.' digits?)? ('e' [+-]? digits)?` with at
    // least one digit, where digits = `\d(_?\d)*`; a scan, not a regex
    // (java.util.regex recurses once per `(_?\d)` repetition)
    val n = body.length
    def isDigit(i: Int) = i < n && body.charAt(i) >= '0' && body.charAt(i) <= '9'
    /** End of the digits run at `from`, or `from` when there is none. */
    def digits(from: Int): Int = {
      var i = from
      while (isDigit(i) || (i > from && i < n && body.charAt(i) == '_' && isDigit(i + 1))) i += 1
      i
    }
    var i = digits(0)
    var seen = i > 0
    if (i < n && body.charAt(i) == '.') { val j = digits(i + 1); seen ||= j > i + 1; i = j }
    if (i < n && body.charAt(i) == 'e') {
      val from = if (i + 1 < n && (body.charAt(i + 1) == '+' || body.charAt(i + 1) == '-')) i + 2 else i + 1
      i = digits(from)
      if (i == from) return None
      seen = true
    }
    if (i != n || !seen) None
    else
      try Some(sign * body.replace("_", "").toDouble)
      catch { case _: NumberFormatException => None }
  }

  /** Python `len()` counts code points, not UTF-16 units. */
  def pyLen(s: String): Int = s.codePointCount(0, s.length)
}
