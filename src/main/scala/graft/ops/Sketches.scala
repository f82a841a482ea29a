package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency sketches with DETERMINISTIC,
  * engine-replayable arithmetic — the companions to [[Histogram]]'s
  * quantile sketch for 100 TB profiling scans.
  *
  * Spark's own `approx_count_distinct` (HyperLogLog++) and count-min
  * implementations are engine-private: their hash functions and register
  * encodings are not reproducible outside the JVM, so their answers can't
  * be oracle-checked and aren't stable across engines. These versions
  * give up a little hash quality (the 53-bit polynomial hash from
  * [[Dedup.polyStringHash]]) for full replayability: every register and
  * every counter is plain integer arithmetic any SQL engine reproduces
  * bit-for-bit, and the only floating-point step is one literal-driven
  * division at the very end of the HLL estimate.
  *
  * Both sketches MERGE, which is the whole point at scale:
  *   - HLL registers from disjoint slices combine by per-index MAX;
  *   - count-min cells from disjoint slices combine by per-cell SUM.
  * So per-day/per-shard sketches roll up without touching the raw data
  * (asserted in SketchesSuite).
  *
  * Scale shape: both are one explode + one map-side-combined shuffle of
  * at most `m` (HLL) / `depth*width` (CMS) rows per group — a sketch, not
  * data, no matter how many input rows.
  */
object Sketches {

  /** Prime modulus shared with [[Dedup.polyStringHash]] (< 2^53). */
  private val P = 9007199254740881L

  /** HLL geometric statistic: 1 + (number of trailing zero bits) of the
    * hash remainder, capped at `maxRho`; 0-valued remainders (no set bit)
    * also cap. Computed by scanning bit positions with exact power-of-two
    * doubles (the same trick [[Dedup.simhash]] uses — `shiftleft` only
    * takes literal shift amounts), so any SQL engine's `//` + `% 2`
    * replays it.
    */
  private[graft] def rhoOf(rest: Column, maxRho: Int): Column =
    least(
      coalesce(
        get(filter(sequence(lit(1), lit(46)),
          r => pmod(floor(rest / pow(lit(2.0), r - 1)).cast("long"), lit(2L)) === 1L), lit(0)),
        lit(46)),
      lit(maxRho))

  /** HLL register table for COUNT(DISTINCT value) per group: one row per
    * (group, register index) actually observed, `rho` = max geometric
    * statistic of the hashes landing there. `p` register-index bits →
    * m = 2^p registers. Missing registers mean rho = 0 (see
    * [[hllEstimate]]). Integer-exact, hence hash-gateable by the driver.
    */
  def hllRegisters(df: DataFrame, valueCol: String, p: Int = 8,
                   groupCols: Seq[String] = Nil, maxRho: Int = 40): DataFrame = {
    require(p >= 4 && p <= 14, s"p in [4,14]: $p")
    // fused one-pass (idx, rho) kernel — bit-identical to the composed
    // HOF formulation (fenced in SketchesSuite); the register fold
    // was the one hot sketch kernel still running interpreted.
    // NULL values are excluded up front — COUNT(DISTINCT) ignores nulls,
    // and a null-keyed register would pollute the estimate's register count
    val ir = graft.functions.HllIdxRhoExpr.hllIdxRho(
      col(valueCol).cast("string"), p, maxRho)
    df.filter(col(valueCol).isNotNull)
      .select((groupCols.map(col) :+ ir.as("__ir")): _*)
      .select((groupCols.map(col)
        :+ col("__ir.idx").as("idx") :+ col("__ir.rho").as("rho")): _*)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max("rho").as("rho"))
  }

  /** Cardinality estimates from a register table: the classic
    *   E = alpha_m * m^2 / sum_i 2^(-rho_i)
    * with the float sum replaced by an EXACT integer sum of
    * 2^(maxRho - rho_i) (missing registers contribute 2^maxRho), so the
    * only IEEE operation is the final division of two identically-derived
    * values — deterministic on every engine, every partitioning. No
    * small/large-range corrections: bias at the extremes is accepted in
    * exchange for a closed-form replayable estimate (error vs exact is
    * gated in SketchesSuite).
    */
  def hllEstimate(registers: DataFrame, p: Int = 8,
                  groupCols: Seq[String] = Nil, maxRho: Int = 40,
                  scaledRound: Boolean = false): DataFrame = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val scale = 1L << maxRho
    val grouped =
      if (groupCols.isEmpty) registers.groupBy()
      else registers.groupBy(groupCols.map(col): _*)
    val raw = lit(alpha * m * m * scale.toDouble) /
      (col("s_obs") + (lit(m.toLong) - col("n_obs")) * lit(scale)).cast("double")
    // scaledRound: decompose round(raw, 3) into one multiply + round-to-
    // integer + divide, the q_histq version-hardening discipline — both
    // engines then derive the final double from the same exact BIGINT
    // instead of each applying their own fractional-precision rounding
    // (implementation-defined at representation-boundary halfway points).
    // Default keeps the r5-era round(…, 3) that every green entry pins.
    val estCol =
      if (scaledRound) (round(raw * 1000).cast("long") / lit(1000.0)).as("est")
      else round(raw, 3).as("est")
    grouped
      .agg(sum(pow(lit(2.0), lit(maxRho) - col("rho")).cast("long"))
          .cast("long").as("s_obs"),
        count(lit(1)).as("n_obs"))
      .select((groupCols.map(col) :+ estCol): _*)
  }

  /** Pairwise-independent-ish row hash for count-min: row r maps key hash
    * h to ((h * A_r + B_r) mod P) mod width. A/B are small literal
    * constants so h * A_r stays well under 2^63 (h < 2^53) — engines that
    * error on BIGINT overflow replay this safely.
    */
  private val cmsA = Seq(31L, 37L, 41L, 43L)
  private val cmsB = Seq(7L, 11L, 13L, 17L)

  private[graft] def cmsIdx(h: Column, r: Int, width: Int): Column =
    pmod(pmod(h * lit(cmsA(r)) + lit(cmsB(r)), lit(P)), lit(width.toLong))

  /** Count-min sketch of key frequencies: `depth` rows × `width` cells;
    * each key occurrence increments one cell per row. Returns
    * (r, idx, cnt) — at most depth*width rows after one map-side-combined
    * shuffle, regardless of input size. Cells from disjoint slices merge
    * by addition.
    */
  def cmsSketch(df: DataFrame, keyCol: String, depth: Int = 3,
                width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= cmsA.size, s"depth in [1,${cmsA.size}]: $depth")
    // fused one-pass key hash (functions.PolyHashExpr, bit-identical to
    // Dedup.polyStringHash — fenced in SketchesSuite), projected once so
    // the row-hash arithmetic below reuses it per depth row
    val h = graft.functions.PolyHashExpr.polyHash(col(keyCol).cast("string"))
    df.select(h.as("__h"))
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsIdx(col("__h"), r, width).as("idx"))): _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.idx").as("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[cmsSketch]] over PRE-AGGREGATED (key, count) rows: each key adds
    * `weightCol` to its cell per depth row. Cell values are BIT-IDENTICAL
    * to sketching the raw occurrences (SUM of per-key counts = COUNT of
    * occurrences per cell — fenced in SketchesSuite), but the sketch input
    * is |distinct keys| rows instead of |occurrences|. Use when an exact
    * per-key aggregate already exists in the plan (e.g. a validation query
    * computing exact-vs-estimate): the expensive tokenize/explode then runs
    * ONCE, feeding the exact aggregate, and the sketch reuses its shuffle.
    * For genuinely one-pass/streaming sketching keep [[cmsSketch]] — the
    * whole point there is never materializing per-key counts.
    */
  def cmsSketchWeighted(df: DataFrame, keyCol: String, weightCol: String,
                        depth: Int = 3, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= cmsA.size, s"depth in [1,${cmsA.size}]: $depth")
    val h = graft.functions.PolyHashExpr.polyHash(col(keyCol).cast("string"))
    df.select(h.as("__h"), col(weightCol).cast("long").as("__w"))
      .select(col("__w"), explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsIdx(col("__h"), r, width).as("idx"))): _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.idx").as("idx"))
      .agg(sum("__w").as("cnt"))
  }

  /** Point-estimate frequencies for `keys` from a sketch: est(k) =
    * MIN over rows r of cell(r, idx_r(k)) — the classic count-min upper
    * bound (est >= true count always; equality unless another key
    * collides in every row). `keys` must have a `keyCol` column; the
    * sketch side is at most depth*width rows, so the join broadcasts.
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int = 3, width: Int = 512): DataFrame = {
    val h = graft.functions.PolyHashExpr.polyHash(col(keyCol).cast("string"))
    val withIdx = keys.select(col(keyCol), h.as("__h"))
      .select(col(keyCol),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"), cmsIdx(col("__h"), r, width).as("idx"))): _*)).as("cell"))
      .select(col(keyCol), col("cell.r").as("r"), col("cell.idx").as("idx"))
    withIdx.join(broadcast(sketch), Seq("r", "idx"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** [[cmsEstimate]] that carries key-functional columns (e.g. the exact
    * count a validation query already aggregated) through the probe's
    * groupBy instead of joining them back afterwards. Because each carry
    * column is functionally determined by the key, grouping by
    * (key, carry...) is row-identical to grouping by the key alone and
    * self-joining the carries on (fenced in SketchesSuite) — but the
    * self-join AND its second derivation of `keys` (a full re-scan +
    * re-tokenize when `keys` comes from a corpus aggregate) disappear:
    * the probe reuses the aggregate's exchange, and since that exchange
    * hash-partitions by the key, the (key, carry) groupBy needs no new
    * exchange either.
    */
  def cmsEstimateCarry(sketch: DataFrame, keys: DataFrame, keyCol: String,
                       carry: Seq[String], depth: Int = 3,
                       width: Int = 512): DataFrame = {
    val h = graft.functions.PolyHashExpr.polyHash(col(keyCol).cast("string"))
    val cols = col(keyCol) +: carry.map(col)
    val withIdx = keys.select(cols :+ h.as("__h"): _*)
      .select(cols :+ explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsIdx(col("__h"), r, width).as("idx"))): _*)).as("cell"): _*)
      .select(cols ++ Seq(col("cell.r").as("r"), col("cell.idx").as("idx")): _*)
    withIdx.join(broadcast(sketch), Seq("r", "idx"), "left")
      .groupBy(keyCol, carry: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
