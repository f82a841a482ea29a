package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing fingerprints (Schleimer/Wilkerson/Aiken): char-k-gram
  * xxhash64 values of the normalized text, window-minimized, first-
  * occurrence-distinct — BIT-IDENTICAL (values AND order) to the composed
  * transform formulation (kept as the fence reference in TextStatsSuite),
  * in ONE pass:
  *
  *  - every k-code-point gram of the normalized (trim/\s+-squeeze/lower)
  *    text is a byte-substring, so gram hashes are XXH64 over byte ranges
  *    between code-point boundaries — no substr materialization, no
  *    interpreted transform per position;
  *  - the sliding window minimum runs on the local gram array;
  *  - distinct keeps first-occurrence order, matching array_distinct.
  *
  * Text shorter than k code points yields an EMPTY set.
  */
case class WinnowFpExpr(child: Expression, k: Int, window: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1 && window >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fp requires a string argument, k >= 1, window >= 1; got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  override def nullSafeEval(input: Any): Any =
    WinnowFpExpr.compute(input.asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFpExpr.compute($c, $k, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpr =
    copy(child = newChild)
}

object WinnowFpExpr {

  def winnowFp(text: Column, k: Int, window: Int): Column =
    GraftSqlBridge.column(WinnowFpExpr(GraftSqlBridge.expression(text), k, window))

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** trim/\s+-squeeze/lower normalization shared by both hash variants:
    * returns (utf8 bytes, code-point byte offsets incl. end, code points).
    */
  private def normalized(u: UTF8String): (Array[Byte], Array[Int], Int) = {
    val s0 = u.trim().toString
    val n0 = s0.length
    var changed = false
    var i = 0
    while (i < n0 && !changed) {
      val c = s0.charAt(i)
      if (isWs(c) && (c != ' ' || (i + 1 < n0 && isWs(s0.charAt(i + 1))))) changed = true
      i += 1
    }
    val squeezed =
      if (!changed) s0
      else {
        val sb = new java.lang.StringBuilder(n0)
        var j = 0
        var inRun = false
        while (j < n0) {
          val c = s0.charAt(j)
          if (isWs(c)) { if (!inRun) sb.append(' '); inRun = true }
          else { sb.append(c); inRun = false }
          j += 1
        }
        sb.toString
      }
    val lowered = UTF8String.fromString(squeezed).toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length

    // code-point boundaries (byte offset of each code point, plus end)
    val offs = new Array[Int](n + 1)
    var cp = 0
    i = 0
    while (i < n) {
      offs(cp) = i
      val b = bytes(i) & 0xFF
      i += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
      cp += 1
    }
    offs(cp) = n
    (bytes, offs, cp)
  }

  /** Shared winnowing tail: sliding window minimum over the gram hashes
    * (positions 0..max(g-window, 0), truncating slices at the end exactly
    * as slice()+array_min did), then first-occurrence distinct
    * (array_distinct order).
    */
  private def winnowTail(grams: Array[Long], window: Int): ArrayData = {
    val g = grams.length
    val wCount = math.max(g - window, 0) + 1
    val mins = new Array[Long](wCount)
    var wpos = 0
    while (wpos < wCount) {
      var m = Long.MaxValue
      var q = wpos
      val lim = math.min(wpos + window, g)
      while (q < lim) { if (grams(q) < m) m = grams(q); q += 1 }
      mins(wpos) = m
      wpos += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var r = 0
    while (r < wCount) { seen.add(mins(r)); r += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  def compute(u: UTF8String, k: Int, window: Int): ArrayData = {
    val (bytes, offs, cp) = normalized(u)
    if (cp < k) return new GenericArrayData(Array.emptyLongArray)
    val g = cp - k + 1
    val grams = new Array[Long](g)
    var p = 0
    while (p < g) {
      grams(p) = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + offs(p), offs(p + k) - offs(p), 42L)
      p += 1
    }
    winnowTail(grams, window)
  }

  private val P = 9007199254740881L

  /** Poly-hash variant: gram hash = the 53-bit polynomial fold over the
    * gram's CODE POINTS — bit-identical (values AND order) to the
    * composed slice-fold formulation (kept as the fence reference in
    * TextStatsSuite) whose per-position `ascii(substr(i,1))` codes are
    * code points. Backs the cross-engine-replayable oracle twin at fused
    * speed.
    */
  def computePoly(u: UTF8String, k: Int, window: Int): ArrayData = {
    val (bytes, offs, cp) = normalized(u)
    if (cp < k) return new GenericArrayData(Array.emptyLongArray)
    // decode each code point once
    val cps = new Array[Int](cp)
    var p = 0
    while (p < cp) {
      val i = offs(p)
      val b0 = bytes(i) & 0xFF
      cps(p) =
        if (b0 < 0x80) b0
        else if (b0 < 0xE0) ((b0 & 0x1F) << 6) | (bytes(i + 1) & 0x3F)
        else if (b0 < 0xF0)
          ((b0 & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) | (bytes(i + 2) & 0x3F)
        else
          ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
            ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F)
      p += 1
    }
    val g = cp - k + 1
    val grams = new Array[Long](g)
    p = 0
    while (p < g) {
      var acc = 0L
      var q = p
      val lim = p + k
      while (q < lim) { acc = (acc * 31L + cps(q)) % P; q += 1 }
      grams(p) = acc
      p += 1
    }
    winnowTail(grams, window)
  }
}

/** Fused twin of the polynomial-hash winnowing formulation — same
  * normalization, window-min and distinct discipline as [[WinnowFpExpr]],
  * with the cross-engine-replayable 53-bit polynomial as the gram hash.
  */
case class WinnowPolyFpExpr(child: Expression, k: Int, window: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1 && window >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_poly_fp requires a string argument, k >= 1, window >= 1; got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_poly_fp"

  override def nullSafeEval(input: Any): Any =
    WinnowFpExpr.computePoly(input.asInstanceOf[UTF8String], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFpExpr.computePoly($c, $k, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowPolyFpExpr =
    copy(child = newChild)
}

object WinnowPolyFpExpr {
  def winnowPolyFp(text: Column, k: Int, window: Int): Column =
    GraftSqlBridge.column(WinnowPolyFpExpr(GraftSqlBridge.expression(text), k, window))
}
