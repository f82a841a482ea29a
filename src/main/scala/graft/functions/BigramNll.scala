package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass bigram-LM scorer over a document's token array, probing a
  * broadcast model — the zero-exchange formulation of
  * [[graft.ops.LangModel.scoreBigramLm]].
  *
  * The composed formulation explodes every corpus bigram, shuffle-joins
  * the exploded stream against the model, and re-groups by document — two
  * corpus-sized exchanges for what is per-document-local arithmetic. This
  * expression folds the minCount-pruned model (a Zipf head, vocabulary- not
  * corpus-sized) into per-executor probe tables and computes each
  * document's `(n_bigrams, nll_micro)` in a single projection: no explode,
  * no join, no re-aggregation. The same shape as [[SubwordExpr]] (compiled
  * probe structure behind a codegen reference object) and
  * `Relevance.bm25` (broadcast statistics, corpus touched once).
  *
  * Bit-identity with the composed path is load-bearing (the driver oracle
  * replays the composed arithmetic): every micronat constant inside
  * [[LmProbe]] is either computed BY SPARK with the identical expression
  * tree (`round(log(...) * 1e6) cast bigint`) during probe construction,
  * or — the fused scorer's driver-trained path — by the same operations
  * Spark runs for that tree (`StrictMath.log`, `BigDecimal` HALF_UP
  * rounding of the double, long → double operands); and the per-pair case
  * analysis (model hit / in-vocab backoff floor / out-of-vocab floor)
  * mirrors the composed CASE WHEN exactly. Fenced in LangModelSuite.
  *
  * The model rides a [[Broadcast]] handle, not the serialized plan: tasks
  * ship bytes-small expressions and each executor materializes the probe
  * once (the 1000-executor shape; a plan-embedded map would deserialize
  * per task).
  */
case class BigramNllExpr(child: Expression, probe: Broadcast[LmProbe])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bigram_nll requires array<string> tokens, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("nll_micro", LongType, nullable = false)))

  override def prettyName: String = "bigram_nll"

  def computeRow(arr: ArrayData): InternalRow = {
    val p = probe.value
    val n = arr.numElements()
    var nll = 0L
    if (n >= 2) {
      var prev = p.tokenId(arr.getUTF8String(0))
      var i = 1
      while (i < n) {
        val cur = p.tokenId(arr.getUTF8String(i))
        nll += (if (prev >= 0) {
          // w1 in vocabulary: model hit else the 1/(c_uni+V) backoff floor
          val hit = if (cur >= 0)
            p.bigram((prev.toLong << 32) | cur.toLong) else LmProbe.Absent
          if (hit != LmProbe.Absent) hit else p.floorMicro(prev)
        } else p.oovMicro) // 1/V floor for an out-of-vocabulary first word
        prev = cur
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](math.max(n - 1, 0).toLong, nll))
  }

  override def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramNll", this, classOf[BigramNllExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.computeRow($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramNllExpr =
    copy(child = newChild)
}

object BigramNllExpr {
  /** Column wrapper: `(n_bigrams, nll_micro)` struct for a token array. */
  def bigramNll(tokens: Column, probe: Broadcast[LmProbe]): Column =
    GraftSqlBridge.column(BigramNllExpr(GraftSqlBridge.expression(tokens), probe))
}

/** Compiled probe tables for [[BigramNllExpr]]: kept-vocabulary token ids
  * (UTF8String-keyed, zero-copy lookups against array elements), the
  * per-token backoff floor and OOV floor in integer micronats (both
  * Spark-computed — see BigramNllExpr's bit-identity note), and the bigram
  * model as an open-addressing long->long table
  * (`(id1<<32)|id2 -> -w_micro`, linear probing, load factor <= 0.5).
  * Primitive arrays throughout: Java serialization of the broadcast stays
  * compact and per-executor materialization is one allocation-free pass.
  */
final class LmProbe private (
    tokenIds: java.util.HashMap[UTF8String, Integer],
    val floorMicro: Array[Long],
    val oovMicro: Long,
    bigramKeys: Array[Long],
    bigramVals: Array[Long]) extends Serializable {

  /** Token id, or -1 when out of the kept vocabulary. */
  def tokenId(u: UTF8String): Int = {
    val v = tokenIds.get(u)
    if (v eq null) -1 else v.intValue()
  }

  /** Bigram contribution `-w_micro`, or [[LmProbe.Absent]]. */
  def bigram(key: Long): Long = {
    val mask = bigramKeys.length - 1
    var i = LmProbe.scramble(key) & mask
    while (true) {
      val k = bigramKeys(i)
      if (k == key) return bigramVals(i)
      if (k == LmProbe.Empty) return LmProbe.Absent
      i = (i + 1) & mask
    }
    LmProbe.Absent // unreachable: table is never full (load <= 0.5)
  }
}

object LmProbe {
  /** Sentinel for "bigram not in model" — never a real contribution
    * (contributions are -w_micro with w_micro <= 0, so >= 0). */
  val Absent: Long = Long.MinValue
  /** Empty-slot key: ids are non-negative so packed keys are >= 0. */
  private val Empty: Long = -1L

  private def scramble(k: Long): Int = {
    val h = k * -7046029254386353131L // Stafford mix constant
    ((h ^ (h >>> 32)) & 0x7fffffffL).toInt
  }

  /** Build from driver-collected model rows. `tokens(i)` owns id `i` and
    * backoff floor `floors(i)`; each bigram is `(id1, id2) -> contrib`.
    */
  def apply(tokens: Array[String], floors: Array[Long], oovMicro: Long,
            bigramIds: Array[(Int, Int)], contribs: Array[Long]): LmProbe = {
    require(tokens.length == floors.length)
    require(bigramIds.length == contribs.length)
    val ids = new java.util.HashMap[UTF8String, Integer](tokens.length * 2)
    var i = 0
    while (i < tokens.length) {
      ids.put(UTF8String.fromString(tokens(i)), Integer.valueOf(i))
      i += 1
    }
    var cap = 16
    while (cap < bigramIds.length * 2) cap <<= 1
    val keys = Array.fill(cap)(Empty)
    val vals = new Array[Long](cap)
    val mask = cap - 1
    i = 0
    while (i < bigramIds.length) {
      val (a, b) = bigramIds(i)
      val key = (a.toLong << 32) | b.toLong
      var j = scramble(key) & mask
      while (keys(j) != Empty) j = (j + 1) & mask
      keys(j) = key
      vals(j) = contribs(i)
      i += 1
    }
    new LmProbe(ids, floors, oovMicro, keys, vals)
  }
}
