package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

import graft.functions.BigramNllExpr
import graft.ops.LangModel

/** Behavior gates for the bigram-LM perplexity filter: the smoothed
  * weights match hand arithmetic, scoring is total (zero-bigram docs
  * appear with NULL mean), the three NLL cases (model hit / in-vocab
  * backoff / out-of-vocab floor) are each exercised, and the
  * micro-integer scores are partition-count invariant — the determinism
  * property the oracle hash-gate depends on.
  */
class LangModelSuite extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // the fused scorer's Spark-trained path with the broadcast probe: a
  // broadcast threshold that fits the model's rows (at least one) but not
  // the pair types' turns the driver trainer off and keeps the probe. Both
  // rows are 56 bytes wide (two strings and a bigint), and the pair types
  // are every bigram type plus each document's last token, so they
  // outnumber the model's rows. (The threshold off sends the scorer to the
  // join path too.)
  private def onSparkPath[T](d: DataFrame, minCount: Int)(f: => T): T = {
    val model = LangModel.trainBigramLm(d, LangModel.unigramCounts(d, minCount = minCount),
      minCount = minCount)
    val width = EstimationUtils.getSizePerRow(
      model.select("w1", "w2", "w_micro").queryExecution.analyzed.output).toLong
    withConf("spark.sql.autoBroadcastJoinThreshold", (width * math.max(1L, model.count())).toString)(f)
  }

  // whether `scored` is the broadcast probe's projection, not the join scorer
  private def probeScored(scored: DataFrame): Boolean =
    scored.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[BigramNllExpr])))

  // halves round away from zero, as in Spark round() / DuckDB ROUND —
  // Java math.round would disagree on negative *.5 micronat values
  private def rnd(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("model weights match hand-computed add-one smoothing") {
    // corpus: "a b a b" + "a b" -> unigrams a:3 b:3 (V=2);
    // bigrams: (a,b):3 (b,a):1
    val d = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val uni = LangModel.unigramCounts(d, minCount = 1)
    val m = LangModel.trainBigramLm(d, uni, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(m.size == 2)
    val ab = m(("a", "b"))
    assert(ab.getLong(2) == 3L && ab.getLong(3) == 3L)
    assert(ab.getLong(4) == rnd(math.log(4.0 / 5.0) * 1e6))
    val ba = m(("b", "a"))
    assert(ba.getLong(4) == rnd(math.log(2.0 / 5.0) * 1e6))
  }

  test("scoring is total and covers all three NLL cases") {
    val train = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val uni = LangModel.unigramCounts(train, minCount = 1)
    val model = LangModel.trainBigramLm(train, uni, minCount = 1)
    // doc 10: pure model hits; doc 11: (b,b) unseen but b in vocab;
    // doc 12: starts out-of-vocab; doc 13: single token -> no bigram
    val score = LangModel.scoreBigramLm(
      Seq((10L, "a b"), (11L, "b b"), (12L, "z a"), (13L, "a"))
        .toDF("doc_id", "text"),
      model, uni)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(score.size == 4, "every doc must appear")
    val hit = -rnd(math.log(4.0 / 5.0) * 1e6)
    assert(score(10L) == ((1L, hit, Some(hit))), "model-hit NLL")
    val backoff = rnd(math.log(5.0) * 1e6) // 1/(c_uni(b)+V) = 1/5
    assert(score(11L) == ((1L, backoff, Some(backoff))), "in-vocab backoff")
    val oov = rnd(math.log(2.0) * 1e6) // 1/V = 1/2
    assert(score(12L) == ((1L, oov, Some(oov))), "out-of-vocab floor")
    assert(score(13L) == ((0L, 0L, None)), "zero-bigram doc: NULL mean")
  }

  test("fluent text scores lower mean NLL than scrambled-vocabulary text") {
    // model trained on the real corpus; a document made of the corpus's
    // own best transition must beat one pairing unknown words. The gate
    // holds BY CONSTRUCTION, not by luck: the probe is the single model
    // bigram with the cheapest hit NLL, and the selection asserts
    // c_uni < V * c_big, which is algebraically equivalent to
    //   ln((c_uni+V)/(c_big+1)) < ln(V)
    // i.e. hit NLL strictly below the OOV floor the scrambled doc pays on
    // every pair. A testdata regeneration can only fail the selection
    // assert loudly, never flip the gate silently.
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val vSize = uni.count()
    val best = model.orderBy(desc("w_micro"), asc("w1"), asc("w2"))
      .limit(1).collect().head
    assert(best.getLong(3) < vSize * best.getLong(2),
      s"need a bigram with c_uni < V*c_big (V=$vSize, row=$best)")
    assert(uni.filter(col("token") === "zzqq").count() == 0L,
      "scrambled probe token must be out-of-vocabulary")
    val fluent = best.getString(0) + " " + best.getString(1)
    val probe = Seq((1L, fluent), (2L, Seq.fill(41)("zzqq").mkString(" ")))
      .toDF("doc_id", "text")
    val s = LangModel.scoreBigramLm(probe, model, uni)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s(1L) < s(2L),
      s"fluent ${s(1L)} must score below out-of-vocab ${s(2L)}")
  }

  test("broadcast-probe scorer is bit-identical to the composed path") {
    // the r12 verdict task-1 fence: the zero-exchange BigramNllExpr path
    // must reproduce the composed explode+join+regroup path CELL FOR CELL
    // — on the real corpus AND on the edge shapes (empty text, whitespace-
    // only, single token, pure-OOV, \x0B tokenizer corner, null text,
    // surrogate-pair unicode)
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val corpus = LangModel.scoreBigramLm(docs, model, uni)
    val corpusB = LangModel.scoreBigramLmBroadcast(docs, model, uni)
    assert(rows(corpus) == rows(corpusB), "corpus scores must be identical")

    val edges = Seq[(java.lang.Long, String)](
      (1L, ""), (2L, "   "), (3L, "solo"), (4L, "zzqq zzqq zzqq"),
      (5L, "ab c"), (6L, null), (7L, "😀 the 😀"),
      (8L, "the the the of of a")).toDF("doc_id", "text")
    val e1 = rows(LangModel.scoreBigramLm(edges, model, uni))
    val e2 = rows(LangModel.scoreBigramLmBroadcast(edges, model, uni))
    assert(e1 == e2, s"edge-doc scores diverged:\n$e1\nvs\n$e2")
  }

  test("fused one-shuffle pipeline is bit-identical to the composed chain") {
    // the t_lm_score entry's path: one explode (pairs + terminator row),
    // one pair-keyed shuffle, unigrams = per-w1 sums — must equal the
    // two-explode composed chain cell for cell, corpus and edge docs alike
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val composed = rows(LangModel.scoreBigramLm(docs, model, uni))
    assert(rows(LangModel.scoreBigramLmFused(docs)) == composed)

    val edges = Seq[(java.lang.Long, String)](
      (1L, ""), (2L, "   "), (3L, "solo"), (4L, "zzqq zzqq zzqq"),
      (5L, "ab c"), (6L, null), (7L, "😀 the 😀"),
      (8L, "the the the of of a")).toDF("doc_id", "text")
    val eu = LangModel.unigramCounts(edges, minCount = 1)
    val em = LangModel.trainBigramLm(edges, eu, minCount = 1)
    assert(rows(LangModel.scoreBigramLmFused(edges, minCount = 1)) ==
      rows(LangModel.scoreBigramLm(edges, em, eu)),
      "edge-doc fused scores diverged from composed")
  }

  test("fused pipeline: wide (uncoalesced) pair-count cache matches too") {
    // the r14 scale-safety fence: past the driver trainer the Spark-trained
    // model reads the pair-count cache at its full width (the 100 TB shape
    // — no single-partition cache) and the broadcast probe scores it;
    // every score cell must still equal the composed chain
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val want = rows(LangModel.scoreBigramLm(docs, model, uni))
    val scored = onSparkPath(docs, 2)(LangModel.scoreBigramLmFused(docs))
    assert(probeScored(scored), s"not the broadcast scorer:\n${scored.queryExecution.optimizedPlan}")
    assert(rows(scored) == want, "wide-cache fused scores diverged from composed")
  }

  test("fused pipeline: over-budget join fallback matches and stays readable") {
    // the join scorer reads the pair-count cache lazily, so the fused path
    // keeps the cache alive for the returned plan instead of releasing it
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val want = rows(LangModel.scoreBigramLm(docs, model, uni))
    val scored = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(LangModel.scoreBigramLmFused(docs))
    assert(!probeScored(scored), s"not the join scorer:\n${scored.queryExecution.optimizedPlan}")
    assert(rows(scored) == want, "fallback fused scores diverged from composed")
    assert(rows(scored) == want, "second read of the fallback result")
  }

  test("broadcast scorer raises on degenerate vocabulary (V < 2)") {
    val d = Seq((1L, "a a a")).toDF("doc_id", "text")
    val uni = LangModel.unigramCounts(d, minCount = 1) // V = 1
    val model = LangModel.trainBigramLm(d, uni, minCount = 1)
    val ex = intercept[IllegalArgumentException] {
      LangModel.scoreBigramLmBroadcast(d, model, uni).collect()
    }
    assert(ex.getMessage.contains("V >= 2"))
  }

  test("scores are partition-count invariant and NLLs non-negative") {
    val uni = LangModel.unigramCounts(docs, minCount = 2)
    val model = LangModel.trainBigramLm(docs, uni, minCount = 2)
    val a = LangModel.scoreBigramLm(docs, model, uni)
    val b = LangModel.scoreBigramLm(docs.repartition(7), model, uni)
    assert(rows(a) == rows(b), "repartition must not change a single cell")
    assert(a.filter(col("nll_micro") < 0L).count() == 0L,
      "per-doc NLL sums are sums of non-negative micronats")
  }

  // the fused scorer's two trainers: on the driver from the collected pair
  // counts (default threshold) and in Spark ([[onSparkPath]]); every cell of
  // every document must agree, and the build of each must take its path
  private def fusedBothPaths(d: DataFrame, minCount: Int): Unit = {
    def exact(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.head.toString)
    val (driver, driverJobs) = ExecProbe.jobs(spark)(LangModel.scoreBigramLmFused(d, minCount = minCount))
    val (inSpark, sparkJobs) = onSparkPath(d, minCount)(
      ExecProbe.jobs(spark)(LangModel.scoreBigramLmFused(d, minCount = minCount)))
    assert(driverJobs < sparkJobs,
      s"driver path built in $driverJobs jobs, Spark path in $sparkJobs")
    assert(probeScored(driver) && probeScored(inSpark), "both paths score with the broadcast probe")
    val (a, b) = (exact(driver), exact(inSpark))
    assert(a.nonEmpty && a == b, s"minCount $minCount: driver-trained scores diverged")
  }

  // null text, empty and whitespace-only text, one-token documents and
  // documents whose every token is out of the kept vocabulary (each used
  // once, below minCount 2 and 3)
  private def withEdges(d: DataFrame): DataFrame = d.select(col("doc_id"), col("text"))
    .union(Seq[(java.lang.Long, String)](
      (-1L, null), (-2L, ""), (-3L, "   "), (-4L, "solo"), (-5L, "the"),
      (-6L, "qqzz1 qqzz2 qqzz3 qqzz4"), (-7L, "qqzz5\u000Bqqzz6 qqzz7"),
      (-8L, "the the the of of a")).toDF("doc_id", "text"))

  for (sf <- Seq("sf0.001", "sf0.01"); minCount <- Seq(1, 2, 3))
    test(s"fused pipeline: driver-trained scores equal Spark-trained ones ($sf, minCount $minCount)") {
      fusedBothPaths(withEdges(
        spark.read.parquet(docs.inputFiles.head.replace("sf0.001", sf))), minCount)
    }

  test("fused pipeline: V < 2 raises the same error on both paths") {
    for ((d, minCount) <- Seq(Seq((1L, "a a a")).toDF("doc_id", "text") -> 1, // V = 1
        Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text") -> 2)) { // V = 0
      val driver = intercept[IllegalArgumentException](
        LangModel.scoreBigramLmFused(d, minCount = minCount).collect())
      val inSpark = intercept[IllegalArgumentException](
        onSparkPath(d, minCount)(LangModel.scoreBigramLmFused(d, minCount = minCount).collect()))
      assert(driver.getMessage.contains("V >= 2"))
      assert(driver.getMessage == inSpark.getMessage)
    }
  }
}
