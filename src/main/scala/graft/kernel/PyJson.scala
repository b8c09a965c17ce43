package graft.kernel

import scala.collection.mutable

/** Minimal JSON AST + strict parser + serializer that mirrors CPython's
  * `json` module semantics (the reference persists artifacts via
  * `json.dumps(..., ensure_ascii=False)` — /root/reference/dots_ocr/parser.py:214,317
  * — and repairs model output around `json.loads` —
  * /root/reference/dots_ocr/utils/output_cleaner.py:275).
  *
  * Byte-identity hazards covered here (SURVEY.md §7.4):
  *   - default separators `", "` / `": "`, insertion-ordered object keys
  *   - `ensure_ascii=False`: only `"`, `\`, and control chars < 0x20 escaped
  *   - CPython accepts NaN / Infinity / -Infinity constants
  *   - duplicate keys: value of the last wins, position of the first kept
  *   - float repr = shortest round-tripping decimal, Python formatting
  */
sealed trait JValue {
  def isDict: Boolean = this.isInstanceOf[JObject]
}

final case class JObject(fields: Vector[(String, JValue)]) extends JValue {
  def get(key: String): Option[JValue] =
    fields.collectFirst { case (k, v) if k == key => v }
  def has(key: String): Boolean = fields.exists(_._1 == key)
  /** Python dict update semantics: existing key keeps its position. */
  def updated(key: String, value: JValue): JObject = {
    val i = fields.indexWhere(_._1 == key)
    if (i >= 0) JObject(fields.updated(i, (key, value)))
    else JObject(fields :+ (key -> value))
  }
}
object JObject {
  def apply(kvs: (String, JValue)*): JObject = {
    var o = JObject(Vector.empty[(String, JValue)])
    kvs.foreach { case (k, v) => o = o.updated(k, v) }
    o
  }
}
final case class JArray(items: Vector[JValue]) extends JValue
final case class JString(value: String) extends JValue
final case class JInt(value: BigInt) extends JValue
final case class JDouble(value: Double) extends JValue
final case class JBool(value: Boolean) extends JValue
case object JNull extends JValue

final class JsonError(msg: String) extends RuntimeException(msg)

object PyJson {

  /** Deepest array/object nesting [[parse]] accepts; deeper input raises
    * [[JsonError]]. CPython's `json.loads` raises RecursionError near
    * depth 1,000 and the reference's `except Exception` sends such a
    * response to the cleaner, as a `JsonError` does here. The limit is
    * the largest round depth at which a response nested that deep runs
    * the whole kernel path (parse, post-processing, the cleaner,
    * `dumps`/`pyRepr`, all recursive over the value) on a 512 KiB thread
    * stack. Between it and ~1,000 the reference parses a response that
    * this kernel hands to the cleaner. */
  private[graft] val MaxDepth = 400

  /** Strict parse mirroring `json.loads` default behavior. Throws [[JsonError]]. */
  def parse(s: String): JValue = {
    val p = new Parser(s)
    p.skipWs()
    val v = p.parseValue(0)
    p.skipWs()
    if (!p.atEnd) throw new JsonError(s"Extra data: pos ${p.pos}")
    v
  }

  def parseOpt(s: String): Option[JValue] =
    try Some(parse(s))
    catch { case _: JsonError => None }

  private final class Parser(s: String) {
    var pos = 0
    def atEnd: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (pos < s.length && (s.charAt(pos) match {
        case ' ' | '\t' | '\n' | '\r' => true
        case _                        => false
      })) pos += 1

    private def fail(msg: String): Nothing = throw new JsonError(s"$msg: pos $pos")

    /** `depth` = the arrays and objects open around the value. */
    def parseValue(depth: Int): JValue = {
      if (atEnd) fail("Expecting value")
      s.charAt(pos) match {
        case '{' | '[' if depth == MaxDepth => fail("Nesting too deep")
        case '{' => parseObject(depth + 1)
        case '[' => parseArray(depth + 1)
        case '"' => JString(parseString())
        case 't' => expect("true"); JBool(true)
        case 'f' => expect("false"); JBool(false)
        case 'n' => expect("null"); JNull
        case 'N' => expect("NaN"); JDouble(Double.NaN)
        case 'I' => expect("Infinity"); JDouble(Double.PositiveInfinity)
        case '-' if pos + 1 < s.length && s.charAt(pos + 1) == 'I' =>
          pos += 1; expect("Infinity"); JDouble(Double.NegativeInfinity)
        case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
        case _ => fail("Expecting value")
      }
    }

    private def expect(word: String): Unit = {
      if (pos + word.length > s.length || s.substring(pos, pos + word.length) != word)
        fail(s"Expecting value")
      pos += word.length
    }

    private def parseObject(depth: Int): JObject = {
      pos += 1 // '{'
      skipWs()
      var obj = JObject(Vector.empty[(String, JValue)])
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return obj }
      var done = false
      while (!done) {
        skipWs()
        if (atEnd || s.charAt(pos) != '"') fail("Expecting property name enclosed in double quotes")
        val k = parseString()
        skipWs()
        if (atEnd || s.charAt(pos) != ':') fail("Expecting ':' delimiter")
        pos += 1
        skipWs()
        val v = parseValue(depth)
        obj = obj.updated(k, v)
        skipWs()
        if (atEnd) fail("Expecting ',' delimiter")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case _   => fail("Expecting ',' delimiter")
        }
      }
      obj
    }

    private def parseArray(depth: Int): JArray = {
      pos += 1 // '['
      skipWs()
      val buf = Vector.newBuilder[JValue]
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return JArray(buf.result()) }
      var done = false
      while (!done) {
        skipWs()
        buf += parseValue(depth)
        skipWs()
        if (atEnd) fail("Expecting ',' delimiter")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case _   => fail("Expecting ',' delimiter")
        }
      }
      JArray(buf.result())
    }

    private def parseString(): String = {
      pos += 1 // opening quote
      val sb = new java.lang.StringBuilder
      while (true) {
        if (atEnd) fail("Unterminated string")
        val c = s.charAt(pos)
        if (c == '"') { pos += 1; return sb.toString }
        else if (c == '\\') {
          pos += 1
          if (atEnd) fail("Unterminated string")
          s.charAt(pos) match {
            case '"'  => sb.append('"'); pos += 1
            case '\\' => sb.append('\\'); pos += 1
            case '/'  => sb.append('/'); pos += 1
            case 'b'  => sb.append('\b'); pos += 1
            case 'f'  => sb.append('\f'); pos += 1
            case 'n'  => sb.append('\n'); pos += 1
            case 'r'  => sb.append('\r'); pos += 1
            case 't'  => sb.append('\t'); pos += 1
            case 'u' =>
              if (pos + 5 > s.length) fail("Invalid \\uXXXX escape")
              val hex = s.substring(pos + 1, pos + 5)
              val cp =
                try Integer.parseInt(hex, 16)
                catch { case _: NumberFormatException => fail("Invalid \\uXXXX escape") }
              sb.append(cp.toChar) // lone surrogates permitted, as in CPython
              pos += 5
            case _ => fail("Invalid \\escape")
          }
        } else if (c < 0x20) fail("Invalid control character")
        else { sb.append(c); pos += 1 }
      }
      sb.toString // unreachable
    }

    private def parseNumber(): JValue = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      if (atEnd) fail("Expecting value")
      // int part: 0 | [1-9][0-9]*
      if (s.charAt(pos) == '0') pos += 1
      else if (s.charAt(pos) >= '1' && s.charAt(pos) <= '9') {
        while (!atEnd && s.charAt(pos).isDigit) pos += 1
      } else fail("Expecting value")
      var isFloat = false
      if (!atEnd && s.charAt(pos) == '.') {
        isFloat = true
        pos += 1
        if (atEnd || !s.charAt(pos).isDigit) fail("Expecting digit after '.'")
        while (!atEnd && s.charAt(pos).isDigit) pos += 1
      }
      if (!atEnd && (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        isFloat = true
        pos += 1
        if (!atEnd && (s.charAt(pos) == '+' || s.charAt(pos) == '-')) pos += 1
        if (atEnd || !s.charAt(pos).isDigit) fail("Expecting digit in exponent")
        while (!atEnd && s.charAt(pos).isDigit) pos += 1
      }
      val tok = s.substring(start, pos)
      if (isFloat) JDouble(tok.toDouble) else JInt(BigInt(tok))
    }
  }

  /** `json.dumps(v, ensure_ascii=False)` with default separators. */
  def dumps(v: JValue): String = {
    val sb = new java.lang.StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: JValue, sb: java.lang.StringBuilder): Unit = v match {
    case JNull        => sb.append("null")
    case JBool(true)  => sb.append("true")
    case JBool(false) => sb.append("false")
    case JInt(i)      => sb.append(i.toString)
    case JDouble(d)   => sb.append(pyFloatRepr(d))
    case JString(s)   => writeString(s, sb)
    case JArray(items) =>
      sb.append('[')
      var first = true
      items.foreach { it =>
        if (!first) sb.append(", ")
        first = false
        write(it, sb)
      }
      sb.append(']')
    case JObject(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(", ")
        first = false
        writeString(k, sb)
        sb.append(": ")
        write(fv, sb)
      }
      sb.append('}')
  }

  def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    // run-based: bulk-append maximal spans of unescaped chars (escapes are
    // rare in real text; the per-char append version was the kernel's
    // single hottest frame under JFR), and a string with no escape at
    // all in one copy
    sb.append('"')
    val n = s.length
    var i = 0
    while (i < n && { val c = s.charAt(i); c != '"' && c != '\\' && c >= 0x20 }) i += 1
    if (i == n) { sb.append(s).append('"'); return }
    var start = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < 0x20) {
        sb.append(s, start, i)
        (c: @annotation.switch) match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case _ =>
            sb.append("\\u00")
            sb.append(Character.forDigit((c >> 4) & 0xf, 16))
            sb.append(Character.forDigit(c & 0xf, 16))
        }
        start = i + 1
      }
      i += 1
    }
    sb.append(s, start, n)
    sb.append('"')
  }

  /** CPython `repr(x)` over JSON-shaped values (e.g. `str(bbox)` appended to
    * the grounding prompt, /root/reference/dots_ocr/parser.py:136 → Python
    * list repr "[1, 2, 3, 4]"). */
  def pyRepr(v: JValue): String = v match {
    case JNull        => "None"
    case JBool(true)  => "True"
    case JBool(false) => "False"
    case JInt(i)      => i.toString
    case JDouble(d)   =>
      if (d.isNaN) "nan"
      else if (d == Double.PositiveInfinity) "inf"
      else if (d == Double.NegativeInfinity) "-inf"
      else pyFloatRepr(d)
    case JString(s)   => pyStrRepr(s)
    case JArray(a)    => a.map(pyRepr).mkString("[", ", ", "]")
    case JObject(f)   => f.map { case (k, fv) => s"${pyStrRepr(k)}: ${pyRepr(fv)}" }.mkString("{", ", ", "}")
  }

  /** CPython `type(x).__name__`, the name its error messages quote. */
  private[kernel] def pyTypeName(v: JValue): String = v match {
    case JNull      => "NoneType"
    case _: JBool   => "bool"
    case _: JInt    => "int"
    case _: JDouble => "float"
    case _: JString => "str"
    case _: JArray  => "list"
    case _: JObject => "dict"
  }

  /** CPython `str(x)`: strings pass through; containers use repr. */
  def pyStr(v: JValue): String = v match {
    case JString(s) => s
    case other      => pyRepr(other)
  }

  /** CPython string repr: single quotes unless the string contains `'` but
    * no `"`; printable unicode kept literal; control chars escaped. */
  def pyStrRepr(s: String): String = {
    val useDouble = s.contains('\'') && !s.contains('"')
    val q = if (useDouble) '"' else '\''
    val sb = new java.lang.StringBuilder
    sb.append(q)
    s.foreach {
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c == q   => sb.append('\\').append(q)
      case c if c < 0x20 || c == 0x7f => sb.append(f"\\x${c.toInt}%02x")
      case c             => sb.append(c)
    }
    sb.append(q)
    sb.toString
  }

  /** CPython `repr(float)`: shortest decimal string that round-trips,
    * fixed notation for decimal exponent in [-4, 16), else `d.dddde±XX`. */
  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "Infinity"
    if (d == Double.NegativeInfinity) return "-Infinity"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val a = math.abs(d)
    // shortest digits: smallest precision p such that %.pe round-trips
    var p = 0
    var sci: String = null
    while (p <= 17 && sci == null) {
      val cand = String.format(java.util.Locale.ROOT, "%." + p + "e", Double.box(a))
      if (cand.toDouble == a) sci = cand else p += 1
    }
    if (sci == null) sci = String.format(java.util.Locale.ROOT, "%.17e", Double.box(a))
    // sci looks like "d.ddde±XX" or "de±XX" (p=0 gives "1e+16" style w/o dot)
    val eIdx = sci.indexOf('e')
    val mant = sci.substring(0, eIdx).replace(".", "")
    val exp = sci.substring(eIdx + 1).toInt // normalized: value = 0.mant * 10^(exp+1)
    val digits = mant // d1 d2 ... dn, value = d1.d2...dn * 10^exp
    val n = digits.length
    val sb = new java.lang.StringBuilder
    if (neg) sb.append('-')
    if (exp >= -4 && exp < 16) {
      if (exp >= n - 1) { // integral-looking: pad zeros, append .0
        sb.append(digits)
        var k = n - 1
        while (k < exp) { sb.append('0'); k += 1 }
        sb.append(".0")
      } else if (exp >= 0) {
        sb.append(digits.substring(0, exp + 1)).append('.').append(digits.substring(exp + 1))
      } else {
        sb.append("0.")
        var k = -1
        while (k > exp) { sb.append('0'); k -= 1 }
        sb.append(digits)
      }
    } else {
      sb.append(digits.charAt(0))
      if (n > 1) sb.append('.').append(digits.substring(1))
      sb.append('e')
      sb.append(if (exp < 0) '-' else '+')
      val ae = math.abs(exp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }
}
