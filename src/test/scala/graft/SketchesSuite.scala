package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sketches, TextAnalysis}

class SketchesSuite extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ------------------------------------------------------------------ HLL

  test("hll registers merge: per-index MAX of disjoint halves equals the whole") {
    val whole = Sketches.hllRegisters(li, "l_orderkey")
    val a = Sketches.hllRegisters(li.filter($"l_orderkey" % 2 === 0), "l_orderkey")
    val b = Sketches.hllRegisters(li.filter($"l_orderkey" % 2 =!= 0), "l_orderkey")
    val merged = a.union(b).groupBy("idx").agg(max("rho").as("rho"))
    val diff = whole.join(merged, Seq("idx"), "full")
      .filter(coalesce(whole("rho"), lit(-1L)) =!= coalesce(merged("rho"), lit(-1L)))
    assert(diff.count() == 0, "max-merged half-sketches must equal the whole sketch")
  }

  /** The composed higher-order-function formulation `Sketches.hllRegisters`
    * fuses: the equivalence fence's reference and the oracle-readable spec
    * of the arithmetic the DuckDB replay mirrors.
    */
  private def hllRegistersComposed(df: DataFrame, valueCol: String, p: Int = 8,
                                   maxRho: Int = 40): DataFrame = {
    val m = 1 << p
    val h = Dedup.polyStringHash(col(valueCol).cast("string"))
    df.filter(col(valueCol).isNotNull)
      .select(pmod(h, lit(m.toLong)).as("idx"),
        Sketches.rhoOf(floor(h / lit(m.toLong)), maxRho).cast("long").as("rho"))
      .groupBy("idx")
      .agg(max("rho").as("rho"))
  }

  // equivalence fence for the fused (idx, rho) kernel: the one-pass
  // HllIdxRhoExpr must be row-identical to the composed HOF formulation
  // on integer keys, free text (incl. multi-byte), empty strings, and
  // across p/maxRho settings — change either side only together
  test("fused hll registers are bit-identical to the composed formulation") {
    for ((df, c) <- Seq((li, "l_orderkey"), (docs, "text"))) {
      for ((p, mr) <- Seq((8, 40), (4, 40), (12, 6))) {
        val fused = Sketches.hllRegisters(df, c, p = p, maxRho = mr)
        val composed = hllRegistersComposed(df, c, p = p, maxRho = mr)
        val diff = fused.join(composed, Seq("idx"), "full")
          .filter(coalesce(fused("rho"), lit(-1L)) =!= coalesce(composed("rho"), lit(-1L)))
        assert(diff.count() == 0, s"fused != composed for $c p=$p maxRho=$mr")
      }
    }
    // edge strings: empty (hashes to 0), whitespace, multi-byte code points,
    // supplementary-plane char, and a null
    val edge = Seq("", " ", "a", "héllo wörld", "日本語テキスト", "x😀y", "0", "999999")
      .toDF("v").union(spark.sql("SELECT CAST(NULL AS STRING) AS v"))
    val f = Sketches.hllRegisters(edge, "v", p = 6, maxRho = 40)
    val g = hllRegistersComposed(edge, "v", p = 6, maxRho = 40)
    val d = f.join(g, Seq("idx"), "full")
      .filter(coalesce(f("rho"), lit(-1L)) =!= coalesce(g("rho"), lit(-1L)))
    assert(d.count() == 0, "fused != composed on edge strings")
  }

  test("hll estimate is within 15% of exact distinct (l_orderkey, m=256)") {
    val regs = Sketches.hllRegisters(li, "l_orderkey")
    val est = Sketches.hllEstimate(regs).collect()(0).getDouble(0)
    val exact = li.select(countDistinct($"l_orderkey")).collect()(0).getLong(0).toDouble
    // m=256 -> typical relative error 1.04/sqrt(256) = 6.5%; the data is
    // fixed so this asserts the observed deterministic outcome with slack
    assert(math.abs(est - exact) / exact < 0.15,
      s"est=$est exact=$exact rel=${math.abs(est - exact) / exact}")
  }

  test("hll estimate is insensitive to input duplication (distinct-count property)") {
    val regsOnce = Sketches.hllRegisters(li, "l_orderkey")
    val regsTwice = Sketches.hllRegisters(li.union(li), "l_orderkey")
    val e1 = Sketches.hllEstimate(regsOnce).collect()(0).getDouble(0)
    val e2 = Sketches.hllEstimate(regsTwice).collect()(0).getDouble(0)
    assert(e1 == e2, s"duplicated input changed the estimate: $e1 vs $e2")
  }

  test("hll register shuffle carries registers, not rows: partial agg precedes exchange") {
    val plan = Sketches.hllRegisters(li, "l_orderkey")
      .queryExecution.executedPlan.toString
    val iEx = plan.indexOf("Exchange")
    assert(plan.indexOf("HashAggregate(keys=[idx") >= 0 && iEx >= 0 &&
      plan.lastIndexOf("HashAggregate") > iEx,
      s"expected partial agg below exchange:\n$plan")
  }

  // ------------------------------------------------------------------ CMS

  private def tokens(df: org.apache.spark.sql.DataFrame) =
    df.select(explode(split(
        lower(regexp_replace(trim($"text"), "\\s+", " ")), " ")).as("tok"))
      .filter(length($"tok") >= 1)

  /** The composed twin of `Sketches.cmsSketch`: the fence reference and the
    * oracle-readable spec of the hash arithmetic.
    */
  private def cmsSketchComposed(df: DataFrame, keyCol: String, depth: Int = 3,
                                width: Int = 512): DataFrame = {
    val h = Dedup.polyStringHash(col(keyCol).cast("string"))
    df.select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), Sketches.cmsIdx(h, r, width).as("idx"))): _*)).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.idx").as("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  // equivalence fence for the fused poly_hash kernel inside cmsSketch:
  // row-identical cells to the composed Dedup.polyStringHash formulation,
  // including multi-byte tokens and empty strings
  test("fused cms sketch is bit-identical to the composed formulation") {
    val toks = tokens(docs)
    val fused = Sketches.cmsSketch(toks, "tok")
    val composed = cmsSketchComposed(toks, "tok")
    val diff = fused.join(composed, Seq("r", "idx"), "full")
      .filter(coalesce(fused("cnt"), lit(-1L)) =!= coalesce(composed("cnt"), lit(-1L)))
    assert(diff.count() == 0, "fused cms != composed cms")
    val edge = Seq("", " ", "héllo", "日本語", "x😀y", "tok").toDF("tok")
    val f = Sketches.cmsSketch(edge, "tok")
    val g = cmsSketchComposed(edge, "tok")
    val d = f.join(g, Seq("r", "idx"), "full")
      .filter(coalesce(f("cnt"), lit(-1L)) =!= coalesce(g("cnt"), lit(-1L)))
    assert(d.count() == 0, "fused cms != composed cms on edge strings")
  }

  // fence for the distinct-sharing path (q_hll_est): registers are
  // duplicate-insensitive — MAX(rho) over distinct keys is row-identical
  // to MAX(rho) over raw occurrences, so a validation query may derive
  // registers and the exact count from ONE shared distinct
  test("hll registers over distinct keys are identical to over occurrences") {
    val occ = tokens(docs)
    val fromOcc = Sketches.hllRegisters(occ, "tok")
    val fromDistinct = Sketches.hllRegisters(occ.distinct(), "tok")
    val diff = fromOcc.join(fromDistinct, Seq("idx"), "full")
      .filter(coalesce(fromOcc("rho"), lit(-1)) =!= coalesce(fromDistinct("rho"), lit(-1)))
    assert(diff.count() == 0, "registers differ between distinct and occurrence inputs")
  }

  // fence for the pre-aggregated path (t_cms): sketching (key, count) rows
  // by summed weight must produce BIT-IDENTICAL cells to sketching the raw
  // occurrences — SUM of per-key counts per cell = COUNT of occurrences
  test("weighted cms over exact counts is bit-identical to occurrence cms") {
    val toks = tokens(docs)
    val occ = Sketches.cmsSketch(toks, "tok")
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val weighted = Sketches.cmsSketchWeighted(exact, "tok", "exact")
    val diff = occ.join(weighted, Seq("r", "idx"), "full")
      .filter(coalesce(occ("cnt"), lit(-1L)) =!= coalesce(weighted("cnt"), lit(-1L)))
    assert(diff.count() == 0, "weighted cms != occurrence cms")
    // duplicated keys with explicit weights, incl. multi-byte
    val edge = Seq(("héllo", 3L), ("", 2L), ("日本語", 1L)).toDF("tok", "w")
    val byWeight = Sketches.cmsSketchWeighted(edge, "tok", "w")
    val byOcc = Sketches.cmsSketch(
      edge.select(explode(expr("array_repeat(tok, cast(w as int))")).as("tok")), "tok")
    val d2 = byOcc.join(byWeight, Seq("r", "idx"), "full")
      .filter(coalesce(byOcc("cnt"), lit(-1L)) =!= coalesce(byWeight("cnt"), lit(-1L)))
    assert(d2.count() == 0, "weighted cms != repeated-occurrence cms")
  }

  test("cms estimates upper-bound exact counts for every key") {
    val toks = tokens(docs)
    val sketch = Sketches.cmsSketch(toks, "tok")
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val est = Sketches.cmsEstimate(sketch, exact.select("tok"), "tok")
    val bad = exact.join(est, Seq("tok")).filter($"est" < $"exact")
    assert(bad.count() == 0, "count-min must never underestimate")
    // and with 3x512 cells vs a small vocabulary, estimates are exact
    val off = exact.join(est, Seq("tok")).filter($"est" =!= $"exact")
    assert(off.count() == 0, "no collisions expected at this width")
  }

  // fence for the carry path (t_cms, r13): probing with the exact count
  // carried through the groupBy must be row-identical to probing the bare
  // keys and self-joining the count back — the carry is key-functional,
  // so (key, carry) groups are exactly the key groups
  test("cms estimate with carried columns equals estimate-then-join") {
    val toks = tokens(docs)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val sketch = Sketches.cmsSketchWeighted(exact, "tok", "exact")
    val joined = exact.join(
      Sketches.cmsEstimate(sketch, exact.select("tok"), "tok"), Seq("tok"))
    val carried = Sketches.cmsEstimateCarry(sketch, exact, "tok", Seq("exact"))
      .select("tok", "exact", "est")
    assert(joined.exceptAll(carried).count() == 0 &&
      carried.exceptAll(joined).count() == 0,
      "carried cms estimate != estimate-then-join")
  }

  test("cms cells merge by addition: disjoint halves sum to the whole") {
    val whole = Sketches.cmsSketch(tokens(docs), "tok")
    val a = Sketches.cmsSketch(tokens(docs.filter($"doc_id" % 2 === 0)), "tok")
    val b = Sketches.cmsSketch(tokens(docs.filter($"doc_id" % 2 =!= 0)), "tok")
    val merged = a.union(b).groupBy("r", "idx").agg(sum("cnt").as("cnt"))
    val diff = whole.join(merged, Seq("r", "idx"), "full")
      .filter(coalesce(whole("cnt"), lit(0L)) =!= coalesce(merged("cnt"), lit(0L)))
    assert(diff.count() == 0, "summed half-sketches must equal the whole sketch")
  }

  test("cms sketch is bounded: at most depth*width rows regardless of input") {
    val sketch = Sketches.cmsSketch(tokens(docs.union(docs)), "tok",
      depth = 3, width = 64)
    assert(sketch.count() <= 3 * 64)
  }

  // ----------------------------------------------------- trigram familiarity

  test("charTrigrams: positions, short-text guard, normalization") {
    val df = Seq("ab", "abc", "  Hello   WORLD  ").toDF("t")
    val got = df.select($"t", TextAnalysis.charTrigrams($"t").as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("ab").isEmpty)
    assert(got("abc") == Seq("abc"))
    // normalized to "hello world" -> 9 trigrams, spanning the space
    assert(got("  Hello   WORLD  ").length == 9)
    assert(got("  Hello   WORLD  ").head == "hel")
    assert(got("  Hello   WORLD  ").contains("o w"))
  }

  test("familiarity: reference docs score full coverage, gibberish scores zero") {
    val ref = Seq((1L, "the quick brown fox"), (2L, "the lazy dog")).toDF("doc_id", "text")
    val mix = ref.union(Seq((3L, "zzqqxxjjvv"), (4L, "ab")).toDF("doc_id", "text"))
    val got = TextAnalysis.trigramFamiliarity(mix, ref, cap = 100)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // reference members: every trigram is known
    assert(got(1L)._1 == got(1L)._2 && got(1L)._1 == 17)
    // gibberish: no trigram appears in the reference
    assert(got(3L) == ((8L, 0L, 0L)))
    // sub-trigram text keeps a zero row instead of disappearing
    assert(got(4L) == ((0L, 0L, 0L)))
  }

  test("familiarity cap: repeated reference trigrams count at most `cap` each") {
    val ref = Seq.tabulate(10)(i => (i.toLong, "aaaa")).toDF("doc_id", "text")
    val q = Seq((100L, "aaa")).toDF("doc_id", "text")
    // "aaaa" has 2 positions of "aaa" per doc -> rc = 20; cap = 5 wins
    val got = TextAnalysis.trigramFamiliarity(q, ref, cap = 5).collect()(0)
    assert(got.getLong(1) == 1 && got.getLong(2) == 1 && got.getLong(3) == 5)
  }

  test("familiarity scoring join broadcasts the reference model") {
    val plan = TextAnalysis.trigramFamiliarity(docs, docs.limit(50))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"reference model should broadcast:\n$plan")
  }
}
