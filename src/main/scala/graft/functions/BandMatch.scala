package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** First matching band index between two per-document kept-bucket vectors —
  * the dedup-free LSH candidate emission test (r14, d_minhash).
  *
  * Each document carries a fixed-length array with one slot per band:
  * slot j holds the doc's band-j bucket key, or NULL when that bucket was
  * dropped by the per-bucket cap (or the doc has no entry). Two documents
  * are LSH candidates iff some slot matches (both non-null, equal); a pair
  * meeting in several bands is emitted once by keeping only the instance
  * whose band equals the FIRST matching slot — replacing the
  * dropDuplicates exchange over every pair instance (the measured wall at
  * 100×: 176M instances hashed down to 27M pairs) with a per-instance
  * 8-slot compare. Returns the first matching index, or null when no slot
  * matches (never the case on a join-produced instance, handled anyway).
  */
case class FirstMatchBandExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"first_match_band requires array<bigint>, array<bigint>; got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "first_match_band"

  override def nullSafeEval(a: Any, b: Any): Any =
    FirstMatchBandExpr.firstMatch(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Integer ${ev.value}_r =
        graft.functions.FirstMatchBandExpr.firstMatch($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.intValue(); }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FirstMatchBandExpr =
    copy(left = newLeft, right = newRight)
}

object FirstMatchBandExpr {
  def firstMatch(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val n = math.min(a.numElements(), b.numElements())
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j) && !b.isNullAt(j) && a.getLong(j) == b.getLong(j))
        return Integer.valueOf(j)
      j += 1
    }
    null
  }

  def firstMatchBand(a: Column, b: Column): Column =
    GraftSqlBridge.column(FirstMatchBandExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** The CAPPED LSH buckets of one pipeline run, as per-band sorted key
  * arrays — the exact driver-side form of "bucket (band, key) exceeded
  * maxBucket" (r14 session 2).
  *
  * Why this exists: the per-bucket cap used to be applied by JOINING every
  * banded corpus row against the size-filtered bucket table, and first-match
  * candidate emission then needed per-document kept-bucket vectors, built by
  * a corpus-wide groupBy + map + re-explode (measured 37 s of the 1000×
  * d_minhash wall, plus the cap join's exchange at every scale). But capped
  * buckets are SMALL BY CONSTRUCTION — each one holds > maxBucket rows, so
  * their count is < bandedRows / (maxBucket+1) — which makes "is (band, key)
  * capped" broadcastable knowledge: the cap join becomes a codegen filter
  * and the kept-vector regroup disappears (each side of the self-join
  * carries its full per-doc key vector, NULL-free, and cap-awareness comes
  * from this set). Membership is exact (sorted-array binary search — no
  * hash-collision false positives, which would emit duplicate pairs).
  * `Dedup` collects the set under the broadcast threshold's budget and
  * falls back to the kept-vector regroup when a corpus caps too many
  * buckets to ship.
  */
final class CappedKeys(perBand: Array[Array[Long]]) extends Serializable {
  def contains(band: Int, key: Long): Boolean =
    band >= 0 && band < perBand.length &&
      java.util.Arrays.binarySearch(perBand(band), key) >= 0
}

object CappedKeys {
  /** Build from collected (band, key) rows. */
  def fromRows(rows: Array[org.apache.spark.sql.Row], bands: Int): CappedKeys = {
    val bufs = Array.fill(bands)(scala.collection.mutable.ArrayBuilder.make[Long])
    rows.foreach { r => bufs(r.getInt(0)) += r.getLong(1) }
    new CappedKeys(bufs.map { b =>
      val a = b.result(); java.util.Arrays.sort(a); a
    })
  }
}

/** `capped.contains(band, key)` as a codegen predicate — replaces the
  * cap join (see [[CappedKeys]]).
  */
case class CappedContainsExpr(left: Expression, right: Expression,
                              capped: Broadcast[CappedKeys])
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (IntegerType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"capped_contains requires (int band, bigint key); got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "capped_contains"

  def compute(band: Int, key: Long): Boolean = capped.value.contains(band, key)

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Int], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cappedContains", this, classOf[CappedContainsExpr].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CappedContainsExpr =
    copy(left = newLeft, right = newRight)
}

/** First band index where the two full per-doc key vectors agree on an
  * UNCAPPED bucket, or null — the capped-set form of
  * [[FirstMatchBandExpr]]: slot-NULLing by the kept-vector regroup is
  * replaced by an exact capped-set probe, which is equivalent because two
  * docs agreeing on band j share band j's bucket, hence one capped-ness.
  */
case class FirstUncappedMatchExpr(left: Expression, right: Expression,
                                  capped: Broadcast[CappedKeys])
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"first_uncapped_match requires array<bigint>, array<bigint>; got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "first_uncapped_match"

  def compute(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val c = capped.value
    val n = math.min(a.numElements(), b.numElements())
    var j = 0
    while (j < n) {
      val k = a.getLong(j)
      if (k == b.getLong(j) && !c.contains(j, k)) return Integer.valueOf(j)
      j += 1
    }
    null
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("firstUncapped", this, classOf[FirstUncappedMatchExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Integer ${ev.value}_r = $ref.compute($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.intValue(); }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FirstUncappedMatchExpr =
    copy(left = newLeft, right = newRight)
}

object FirstUncappedMatchExpr {
  def firstUncappedMatch(a: Column, b: Column, capped: Broadcast[CappedKeys]): Column =
    GraftSqlBridge.column(FirstUncappedMatchExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b), capped))

  def cappedContains(band: Column, key: Column, capped: Broadcast[CappedKeys]): Column =
    GraftSqlBridge.column(CappedContainsExpr(
      GraftSqlBridge.expression(band), GraftSqlBridge.expression(key), capped))
}

/** First chunk index (0..3) where two 63-bit simhash signatures share an
  * UNCAPPED 16-bit band key, or null — the capped-set first-match for
  * [[graft.ops.Dedup.simhashNearDuplicates]]'s 16-bit banding. The chunk
  * keys are recomputed from the signatures ((sim >>> 16c) & 0xFFFF), so the
  * self-join sides carry only the 8-byte signature, no kept-vector.
  */
case class FirstUncappedSim16Expr(left: Expression, right: Expression,
                                  capped: Broadcast[CappedKeys])
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"first_uncapped_sim16 requires (bigint, bigint); got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "first_uncapped_sim16"

  def compute(sa: Long, sb: Long): java.lang.Integer = {
    val c = capped.value
    var j = 0
    while (j < 4) {
      val ka = (sa >>> (16 * j)) & 0xFFFFL
      if (ka == ((sb >>> (16 * j)) & 0xFFFFL) && !c.contains(j, ka))
        return Integer.valueOf(j)
      j += 1
    }
    null
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("firstUncappedSim16", this, classOf[FirstUncappedSim16Expr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Integer ${ev.value}_r = $ref.compute($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.intValue(); }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FirstUncappedSim16Expr =
    copy(left = newLeft, right = newRight)
}

object FirstUncappedSim16Expr {
  def firstUncappedSim16(a: Column, b: Column, capped: Broadcast[CappedKeys]): Column =
    GraftSqlBridge.column(FirstUncappedSim16Expr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b), capped))
}

/** First chunk index (0..3) where two wide (126-bit) signature pairs share
  * an UNCAPPED band key, or null — capped-set first-match for
  * [[graft.ops.Dedup.simhashNearDuplicatesWide]]. Chunk keys recomputed
  * exactly as the banding: 0: sa & 0x7FFFFFFF, 1: sa >> 31,
  * 2: sb & 0x7FFFFFFF, 3: sb >> 31.
  */
case class FirstUncappedWideExpr(first: Expression, second: Expression,
                                 third: Expression, fourth: Expression,
                                 capped: Broadcast[CappedKeys])
  extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"first_uncapped_wide requires 4 bigint signatures; got ${children.map(_.dataType.sql)}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "first_uncapped_wide"

  def compute(saA: Long, sbA: Long, saB: Long, sbB: Long): java.lang.Integer = {
    val c = capped.value
    var j = 0
    while (j < 4) {
      val ka = j match {
        case 0 => saA & 0x7FFFFFFFL
        case 1 => saA >> 31
        case 2 => sbA & 0x7FFFFFFFL
        case 3 => sbA >> 31
      }
      val kb = j match {
        case 0 => saB & 0x7FFFFFFFL
        case 1 => saB >> 31
        case 2 => sbB & 0x7FFFFFFFL
        case 3 => sbB >> 31
      }
      if (ka == kb && !c.contains(j, ka)) return Integer.valueOf(j)
      j += 1
    }
    null
  }

  override def nullSafeEval(a: Any, b: Any, cc: Any, d: Any): Any =
    compute(a.asInstanceOf[Long], b.asInstanceOf[Long],
      cc.asInstanceOf[Long], d.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("firstUncappedWide", this, classOf[FirstUncappedWideExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b, cc, d) => s"""
      java.lang.Integer ${ev.value}_r = $ref.compute($a, $b, $cc, $d);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.intValue(); }
    """)
  }

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): FirstUncappedWideExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object FirstUncappedWideExpr {
  def firstUncappedWide(saA: Column, sbA: Column, saB: Column, sbB: Column,
                        capped: Broadcast[CappedKeys]): Column =
    GraftSqlBridge.column(FirstUncappedWideExpr(
      GraftSqlBridge.expression(saA), GraftSqlBridge.expression(sbA),
      GraftSqlBridge.expression(saB), GraftSqlBridge.expression(sbB), capped))
}
