package graft.kernel

import java.util.regex.Pattern
import scala.collection.mutable

/** Malformed-model-output repair chain, semantics-identical to the
  * reference's `OutputCleaner`
  * (/root/reference/dots_ocr/utils/output_cleaner.py:32-435):
  *
  *   list input  → C1 `clean_list_data`
  *   str input   → C2 fix missing `},{` delimiters
  *               → C3 truncate last incomplete element (>50k or no `]` tail)
  *               → C4 drop duplicate complete dict spans (keep-first)
  *               → C5 ensure `[...]` wrapping
  *               → C6 strict parse w/ two fallbacks
  *   then        → C7 threshold-gated order-preserving dedup
  *                 (≥5 identical (category,text); ≥2 identical bbox)
  *
  * This is deliberately NOT a relational dropDuplicates: it is per-document,
  * order-preserving, and threshold-gated (SURVEY.md §2.3).
  */
object OutputRepair {

  final case class CleanResult(cleanedData: Vector[JValue], success: Boolean)

  // Patterns mirror output_cleaner.py:37-39 with Python-`\s` spelled out.
  private val dictPattern = Pattern.compile(
    "\\{[^{}]*?\"bbox\"" + PyStr.WS + "*:" + PyStr.WS + "*\\[[^\\]]*?\\][^{}]*?\\}",
    Pattern.DOTALL)
  private val bboxPattern = Pattern.compile(
    "\"bbox\"" + PyStr.WS + "*:" + PyStr.WS + "*\\[([^\\]]+)\\]")
  private val missingDelimiterPattern = Pattern.compile(
    "\\}" + PyStr.WS + "*\\{(?!\")")
  private val categoryPattern = Pattern.compile(
    "\"category\"" + PyStr.WS + "*:" + PyStr.WS + "*\"([^\"]+)\"")
  private val textPrefixPattern = Pattern.compile(
    "\"text\"" + PyStr.WS + "*:" + PyStr.WS + "*\"([^\"]{0,10000})")

  /** C1: per-item repair of an already-parsed list (output_cleaner.py:43-107). */
  def cleanListData(data: Vector[JValue]): CleanResult = {
    val out = Vector.newBuilder[JValue]
    data.foreach {
      case item: JObject =>
        item.get("bbox") match {
          case Some(JArray(b)) if b.length == 3 =>
            // 3-coord bbox: drop bbox, keep {category?, text?} in that order
            var kept = JObject(Vector.empty[(String, JValue)])
            item.get("category").foreach(v => kept = kept.updated("category", v))
            item.get("text").foreach(v => kept = kept.updated("text", v))
            if (kept.fields.nonEmpty) out += kept
          case Some(JArray(b)) if b.length == 4 =>
            out += item // copy with original key order
          case Some(_) =>
            () // abnormal bbox: drop item
          case None =>
            if (item.has("category")) out += item
        }
      case _ => () // non-dict: drop
    }
    CleanResult(out.result(), success = true)
  }

  /** C2 (output_cleaner.py:171-186). */
  def fixMissingDelimiters(text: String): String =
    missingDelimiterPattern.matcher(text).replaceAll("},{")

  /** C3 (output_cleaner.py:188-220): threshold on Python `len` (code points). */
  def truncateLastIncomplete(text: String): String = {
    val needs = PyStr.pyLen(text) > 50000 || !PyStr.strip(text).endsWith("]")
    if (!needs) return text
    val bboxCount = countOccurrences(text, "{\"bbox\":")
    if (bboxCount <= 1) return text
    val lastPos = text.lastIndexOf("{\"bbox\":")
    if (lastPos > 0) {
      var t = PyStr.rstrip(text.substring(0, lastPos))
      if (t.endsWith(",")) t = t.substring(0, t.length - 1)
      t
    } else text
  }

  private def countOccurrences(haystack: String, needle: String): Int = {
    var count = 0
    var idx = haystack.indexOf(needle)
    while (idx >= 0) {
      count += 1
      idx = haystack.indexOf(needle, idx + needle.length)
    }
    count
  }

  /** C4 (output_cleaner.py:222-254): exact-string keep-first dedup of
    * complete dict spans; rebuilds `[a, b, …]` only if duplicates existed. */
  def removeDuplicateDicts(text: String): String = {
    val m = dictPattern.matcher(text)
    val unique = Vector.newBuilder[String]
    val seen = mutable.HashSet.empty[String]
    var dups = 0
    var any = false
    while (m.find()) {
      any = true
      val s = m.group()
      if (seen.add(s)) unique += s else dups += 1
    }
    if (!any || dups == 0) text
    else "[" + unique.result().mkString(", ") + "]"
  }

  /** C5 (output_cleaner.py:256-269). */
  def ensureJsonFormat(text0: String): String = {
    var text = PyStr.strip(text0)
    if (!text.startsWith("[")) text = "[" + text
    if (!text.endsWith("]")) {
      // Python str.rstrip(',') strips ALL trailing commas, then whitespace
      var t = text
      while (t.endsWith(",")) t = t.substring(0, t.length - 1)
      text = PyStr.rstrip(t) + "]"
    }
    text
  }

  /** C6 (output_cleaner.py:271-345): strict parse; fallback1 parses each
    * dict span individually; fallback2 repairs a single incomplete dict. */
  def parseFinalJson(text: String): Option[Vector[JValue]] =
    PyJson.parseOpt(text) match {
      case Some(JArray(items)) => Some(items)
      case Some(_)             => None // parsed but not a list → no fallback
      case None =>
        val valid = Vector.newBuilder[JValue]
        var n = 0
        val m = dictPattern.matcher(text)
        while (m.find()) {
          PyJson.parseOpt(m.group()).foreach { v => valid += v; n += 1 }
        }
        if (n > 0) Some(valid.result())
        else handleSingleIncompleteDict(text)
    }

  /** C6 fallback2 (output_cleaner.py:301-345): bbox must be exactly 4 ints,
    * category defaults to "Text", text prefix capped at 10k chars. */
  def handleSingleIncompleteDict(text: String): Option[Vector[JValue]] = {
    if (!PyStr.strip(text).startsWith("[{\"bbox\":")) return None
    val bm = bboxPattern.matcher(text)
    if (!bm.find()) return None
    val coords = bm.group(1).split(",", -1).toVector.map(s => PyStr.pyInt(s))
    if (coords.exists(_.isEmpty)) return None // int() ValueError → except → None
    val ints = coords.flatten
    if (ints.length != 4) return None
    val cm = categoryPattern.matcher(text)
    val category = if (cm.find()) cm.group(1) else "Text"
    val tm = textPrefixPattern.matcher(text)
    val textContent = if (tm.find()) tm.group(1) else ""
    var dict = JObject(
      "bbox" -> JArray(ints.map(JInt(_))),
      "category" -> JString(category))
    if (textContent.nonEmpty) dict = dict.updated("text", JString(textContent))
    Some(Vector(dict))
  }

  /** C2..C6 pipeline over a raw string (output_cleaner.py:109-169). */
  def cleanStringData(raw: String): CleanResult = {
    var text = fixMissingDelimiters(raw)
    text = truncateLastIncomplete(text)
    text = removeDuplicateDicts(text)
    text = ensureJsonFormat(text)
    parseFinalJson(text) match {
      case Some(items) => CleanResult(items, success = true)
      case None        => CleanResult(Vector.empty, success = false)
    }
  }

  /** Python-equality key: 1 == 1.0 == True, tuples compare element-wise. */
  private def canonKey(v: JValue): Any = v match {
    case JInt(i)     => BigDecimal(i)
    case JDouble(d)  => if (d.isWhole && !d.isInfinite) BigDecimal(d) else d
    case JBool(b)    => BigDecimal(if (b) 1 else 0)
    case JString(s)  => s
    case JNull       => JNull
    case JArray(a)   => a.map(canonKey)
    case o: JObject  => o // dicts are unhashable in Python; never used as keys here
  }

  /** C7 (output_cleaner.py:347-416): two keep-first dedup passes —
    * (category,text) pairs occurring ≥5 times and bboxes occurring ≥2
    * times — removing the union of the drop sets, order preserved. */
  def dedupPairsAndBbox(data: Vector[JValue]): Vector[JValue] = {
    if (data.length <= 1) return data
    val pairPositions = mutable.LinkedHashMap.empty[(Any, Any), mutable.ArrayBuffer[Int]]
    data.zipWithIndex.foreach {
      case (item: JObject, i) if item.has("category") && item.has("text") =>
        val key = (canonKey(item.get("category").getOrElse(JString(""))),
                   canonKey(item.get("text").getOrElse(JString(""))))
        pairPositions.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += i
      case _ => ()
    }
    val bboxPositions = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuffer[Int]]
    data.zipWithIndex.foreach {
      case (item: JObject, i) if item.has("bbox") =>
        item.get("bbox") match {
          case Some(JArray(b)) if b.nonEmpty =>
            bboxPositions.getOrElseUpdate(b.map(canonKey), mutable.ArrayBuffer.empty) += i
          case _ => ()
        }
      case _ => ()
    }
    val toRemove = mutable.HashSet.empty[Int]
    pairPositions.valuesIterator.foreach { pos =>
      if (pos.length >= 5) toRemove ++= pos.drop(1)
    }
    bboxPositions.valuesIterator.foreach { pos =>
      if (pos.length >= 2) toRemove ++= pos.drop(1)
    }
    if (toRemove.isEmpty) data
    else data.zipWithIndex.collect { case (item, i) if !toRemove.contains(i) => item }
  }

  /** `clean_model_output` (output_cleaner.py:418-435), with the parse
    * success flag preserved (clean_all_data's report needs it, :539-547). */
  def cleanModelOutputResult(input: Either[Vector[JValue], String]): CleanResult = {
    val result = input match {
      case Left(list) => cleanListData(list)
      case Right(str) => cleanStringData(str)
    }
    if (result.success && result.cleanedData.nonEmpty)
      CleanResult(dedupPairsAndBbox(result.cleanedData), result.success)
    else result
  }

  def cleanModelOutput(input: Either[Vector[JValue], String]): Vector[JValue] =
    cleanModelOutputResult(input).cleanedData

  /** `post_process_output` for the layout modes
    * (/root/reference/dots_ocr/utils/layout_utils.py:202-228): strict parse +
    * rescale, else repair; repaired list → texts joined with `\n\n`. */
  sealed trait PostProcessed
  final case class ParsedCells(cells: Vector[JValue]) extends PostProcessed
  final case class Filtered(text: String) extends PostProcessed

  def postProcessOutput(
      response: String,
      originalWidth: Long,
      originalHeight: Long,
      inputWidth: Long,
      inputHeight: Long,
      minPixels: Long = Geometry.MinPixels,
      maxPixels: Long = Geometry.MaxPixels): PostProcessed = {
    // json.loads then post_process_cells; ANY failure routes to the cleaner
    // with whatever `cells` holds at that point (str if loads failed, the
    // parsed list otherwise) — layout_utils.py:206-228.
    var parsed: Option[JValue] = None
    try {
      val v = PyJson.parse(response)
      parsed = Some(v)
      val items = v match {
        case JArray(a) => a
        case _         => BboxScale.kernelError("cells is not a list")
      }
      val cells = BboxScale.postProcessCells(
        originalWidth, originalHeight, items, inputWidth, inputHeight,
        minPixels = minPixels, maxPixels = maxPixels)
      return ParsedCells(cells)
    } catch {
      case _: JsonError | _: BboxScale.KernelError | _: Geometry.AspectRatioError => ()
    }
    val cleanerInput: Either[Vector[JValue], String] = parsed match {
      case Some(JArray(a)) => Left(a)
      case Some(other)     => Right(PyJson.pyStr(other)) // CPython str() of the parsed value
      case None            => Right(response)
    }
    val cleaned = cleanModelOutput(cleanerInput)
    val texts = cleaned.collect {
      case o: JObject if o.has("text") =>
        o.get("text").get match {
          case JString(s) => s
          case other      => BboxScale.kernelError(s"join of non-str text: '${PyJson.pyTypeName(other)}'")
        }
    }
    Filtered(texts.mkString("\n\n"))
  }
}
