package graft.kernel

/** Coordinate rescaling between original page space and smart-resized model
  * space, mirroring /root/reference/dots_ocr/utils/layout_utils.py:115-200.
  *
  * CPython `int(float)` truncates toward zero (SURVEY.md §7.4 hazard 2);
  * `int(inf)` / `int(nan)` raise — surfaced here as [[KernelError]].
  */
object BboxScale {

  /** Raised where the reference's Python would raise (KeyError, TypeError,
    * ValueError, assert) — callers route it to the repair/error path. */
  final class KernelError(msg: String) extends RuntimeException(msg)

  def kernelError(msg: String): Nothing = throw new KernelError(msg)

  /** 2^53: below it in magnitude, `int(x)` of a double is `x.toLong`. */
  private[kernel] val ExactLong = 9.007199254740992e15

  /** CPython `int(x)` over a double: truncate toward zero; inf/nan raise. */
  def pyIntOfDouble(v: Double): BigInt = {
    if (v.isNaN) kernelError("cannot convert float NaN to integer")
    if (v.isInfinite) kernelError("cannot convert float infinity to integer")
    // Long truncation is exact below 2^53 (every double there is integral-
    // representable); BigDecimal only for the astronomical tail
    if (v > -ExactLong && v < ExactLong) BigInt(v.toLong)
    else new java.math.BigDecimal(v).toBigInteger
  }

  /** CPython `float(x)` over a JSON value. */
  def pyFloatOf(v: JValue): Double = v match {
    case JInt(i)     => i.toDouble
    case JDouble(d)  => d
    case JBool(b)    => if (b) 1.0 else 0.0
    case JString(s)  => PyStr.pyFloat(s).getOrElse(kernelError(s"could not convert string to float: '$s'"))
    case other       => kernelError(s"float() argument must be a string or a number, not '${PyJson.pyTypeName(other)}'")
  }

  /** CPython `int(x)` over a JSON value (used by `layoutjson2md`'s
    * `int(coord)`, /root/reference/dots_ocr/utils/format_transformer.py:163). */
  def pyIntOf(v: JValue): BigInt = v match {
    case JInt(i)    => i
    case JDouble(d) => pyIntOfDouble(d)
    case JBool(b)   => if (b) BigInt(1) else BigInt(0)
    case JString(s) => PyStr.pyInt(s).getOrElse(kernelError(s"invalid literal for int(): '$s'"))
    case other      => kernelError(s"int() argument must be a string or a number, not '${PyJson.pyTypeName(other)}'")
  }

  /** `pre_process_bboxes` (layout_utils.py:115-144): original → model-input
    * coords with `scale = original / smart_resized`, `int()` truncation. */
  def preProcessBboxes(
      originalWidth: Long,
      originalHeight: Long,
      bboxes: Vector[Vector[JValue]],
      inputWidth: Long,
      inputHeight: Long,
      minPixels: Long = Geometry.MinPixels,
      maxPixels: Long = Geometry.MaxPixels): Vector[Vector[BigInt]] = {
    if (bboxes.isEmpty) kernelError("assert bboxes non-empty")
    val (ih, iw) = Geometry.smartResize(inputHeight, inputWidth, minPixels = minPixels, maxPixels = maxPixels)
    val scaleX = originalWidth.toDouble / iw
    val scaleY = originalHeight.toDouble / ih
    bboxes.map { bbox =>
      if (bbox.length < 4) kernelError("bbox index out of range")
      Vector(
        pyIntOfDouble(pyFloatOf(bbox(0)) / scaleX),
        pyIntOfDouble(pyFloatOf(bbox(1)) / scaleY),
        pyIntOfDouble(pyFloatOf(bbox(2)) / scaleX),
        pyIntOfDouble(pyFloatOf(bbox(3)) / scaleY))
    }
  }

  /** `post_process_cells` (layout_utils.py:146-193): model-output bbox →
    * original coords with `scale = smart_resized / original`; copies each
    * cell, rewriting only `bbox` (key position preserved). */
  def postProcessCells(
      originalWidth: Long,
      originalHeight: Long,
      cells: Vector[JValue],
      inputWidth: Long,
      inputHeight: Long,
      minPixels: Long = Geometry.MinPixels,
      maxPixels: Long = Geometry.MaxPixels): Vector[JValue] = {
    if (cells.isEmpty) kernelError("assert cells non-empty")
    if (!cells.head.isDict) kernelError("assert cells[0] is dict")
    val (ih, iw) = Geometry.smartResize(inputHeight, inputWidth, minPixels = minPixels, maxPixels = maxPixels)
    val scaleX = iw.toDouble / originalWidth
    val scaleY = ih.toDouble / originalHeight
    cells.map {
      case obj: JObject =>
        val bbox = obj.get("bbox").getOrElse(kernelError("KeyError: 'bbox'"))
        val items = bbox match {
          case JArray(a) => a
          case JString(s) =>
            // Python indexes strings char-by-char; float('<char>') then fails
            s.toVector.map(c => JString(c.toString))
          case _ => kernelError("bbox not indexable")
        }
        if (items.length < 4) kernelError("bbox index out of range")
        val resized = Vector(
          pyIntOfDouble(pyFloatOf(items(0)) / scaleX),
          pyIntOfDouble(pyFloatOf(items(1)) / scaleY),
          pyIntOfDouble(pyFloatOf(items(2)) / scaleX),
          pyIntOfDouble(pyFloatOf(items(3)) / scaleY))
        obj.updated("bbox", JArray(resized.map(JInt(_))))
      case other => kernelError(s"cell is not a dict: '${PyJson.pyTypeName(other)}'")
    }
  }

  /** `is_legal_bbox` (layout_utils.py:195-200). */
  def isLegalBbox(cells: Vector[JValue]): Boolean =
    cells.forall {
      case obj: JObject =>
        obj.get("bbox") match {
          case Some(JArray(b)) if b.length >= 4 =>
            val v = b.map(pyFloatOf)
            v(2) > v(0) && v(3) > v(1)
          case _ => kernelError("KeyError: 'bbox'")
        }
      case _ => kernelError("cell is not a dict")
    }
}
