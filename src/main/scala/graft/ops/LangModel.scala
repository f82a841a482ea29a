package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{BigramNllExpr, LmProbe}

/** Language-model perplexity filtering — the CCNet-lineage quality pass
  * (Wenzek et al., arXiv:1911.00359) that scores every corpus document by
  * how surprising its token sequence is under an n-gram model trained on
  * the corpus itself, then drops the high-perplexity tail. Production
  * pipelines run this with a KenLM model; the statistical core is the same
  * add-one-smoothed bigram model implemented here as pure Spark SQL plans.
  *
  * Determinism discipline (same as [[Classifier]]): every count is an
  * exact BIGINT; each conditional probability is ONE libm `ln` of an
  * exactly-represented rational (all integer operands stay far below 2^53,
  * so the quotient is the same IEEE double on any engine), micro-scaled to
  * a BIGINT negative-log-likelihood (`round(ln(...)*1e6)`). Per-document
  * scores are SUMS OF INTEGERS — addition-order-free — and the mean NLL is
  * integer division, so the whole operator hash-gates against a DuckDB
  * replay (entries t_lm_model / t_lm_score) with no float-summation
  * caveats.
  *
  * Scale shape (100 TB): training is one bigram-keyed shuffle with
  * map-side partial counts; `minCount` prunes the model to the Zipf head,
  * and unseen n-grams are handled by the smoothing backoff rather than by
  * keeping the tail. Scoring joins the exploded corpus against the model
  * with a `shuffle_hash` hint (a bigram table can exceed broadcast size —
  * it must never be elected the build side of a broadcast by stale stats)
  * and against the minCount-pruned unigram vocabulary by broadcast (a
  * Zipf-pruned vocabulary is millions of rows and fits every executor).
  * No corpus-sized side ever broadcasts; the driver only ever holds the
  * vocabulary-sized model, and trains it itself only under [[DriverBudget]].
  */
object LangModel {

  /** Shared tokenization convention (same as TextAnalysis/Classifier):
    * whitespace split of `lower(trim(text))`. Java's `\s` is exactly
    * `[ \t\n\x0B\f\r]`; the DuckDB oracles spell that class out explicitly
    * because RE2's `\s` omits `\x0B` (vertical tab) — with the explicit
    * class both sides tokenize identically even on `\x0B`-bearing text. */
  private def toks(textCol: String): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** Adjacent-pair array: `[(w1,w2), ...]` — empty for 1-token docs. Both
    * slices have length `size-1`, so `zip_with` never pads with nulls. */
  private def bigramPairs(t: Column): Column =
    zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** Kept unigram vocabulary: `(token, c_uni)` with corpus frequency >=
    * `minCount`. The vocabulary size `V = count(*)` of this frame is the
    * smoothing denominator everywhere below. */
  def unigramCounts(docs: DataFrame, textCol: String = "text",
                    minCount: Int = 2): DataFrame =
    docs.select(explode(toks(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_uni"))
      .filter(col("c_uni") >= minCount)

  /** Train the bigram model over the kept vocabulary.
    *
    * Returns one row per retained bigram (both words kept, pair frequency
    * >= `minCount`): `(w1, w2, c_big, c_uni, w_micro)` where
    *
    *   w_micro = round( ln( (c_big + 1) / (c_uni + V) ) * 1e6 )  (<= 0)
    *
    * is the add-one-smoothed conditional log-probability of `w2` given
    * `w1` in integer micronats. `c_uni` is `w1`'s unigram frequency and
    * `V` the kept-vocabulary size, so the model is self-contained and
    * exactly replayable from its own counts.
    */
  def trainBigramLm(docs: DataFrame, unigrams: DataFrame,
                    textCol: String = "text",
                    minCount: Int = 2): DataFrame = {
    val v = unigrams.agg(count(lit(1)).as("v"))
    docs.select(explode(bigramPairs(toks(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_big"))
      .filter(col("c_big") >= minCount)
      .join(broadcast(unigrams.select(col("token").as("w1"),
        col("c_uni"))), Seq("w1"))
      .join(broadcast(unigrams.select(col("token").as("w2"))), Seq("w2"))
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), col("c_big"), col("c_uni"),
        round(log((col("c_big") + lit(1.0)) / (col("c_uni") + col("v"))) * lit(1e6))
          .cast("bigint").as("w_micro"))
  }

  /** Score every document: `(id, n_bigrams, nll_micro, avg_nll_micro)`.
    *
    * Each adjacent token pair contributes a non-negative micronat NLL:
    * a model bigram contributes `-w_micro`; an unseen pair whose first
    * word is in-vocabulary contributes the smoothing floor
    * `round(ln(c_uni + V) * 1e6)` (probability `1/(c_uni+V)`); a pair
    * starting with an out-of-vocabulary word contributes
    * `round(ln(V) * 1e6)` (probability `1/V`). `avg_nll_micro` is the
    * integer-division mean — the perplexity proxy a filter thresholds on —
    * and is NULL for documents with no bigram. Every document appears in
    * the output.
    */
  def scoreBigramLm(docs: DataFrame, model: DataFrame, unigrams: DataFrame,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    // Precondition V >= 2: with V = 0 the OOV floor ln(V) is -Infinity
    // (Spark would cast it to Long.MinValue while the DuckDB replay errors
    // — a silent engine/oracle divergence), and V = 1 makes OOV pairs
    // cost 0 micronats. The 1-row guard errors loudly instead; it never
    // fires on a non-degenerate corpus.
    val v = unigrams.agg(count(lit(1)).as("v"))
      .select(when(col("v") >= 2L, col("v"))
        .otherwise(raise_error(concat(
          lit("scoreBigramLm: kept vocabulary size V = "),
          col("v").cast("string"),
          lit(" but the ln(V) out-of-vocab floor needs V >= 2"))))
        .as("v"))
    val perPair = docs
      .select(col(idCol).as("__id"), explode(bigramPairs(toks(textCol))).as("bg"))
      .select(col("__id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(model.select(col("w1"), col("w2"), col("w_micro")).hint("shuffle_hash"),
        Seq("w1", "w2"), "left")
      .join(broadcast(unigrams.select(col("token").as("w1"), col("c_uni"))),
        Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("__id"),
        when(col("w_micro").isNotNull, -col("w_micro"))
          .when(col("c_uni").isNotNull,
            round(log(col("c_uni") + col("v")) * lit(1e6)).cast("bigint"))
          .otherwise(round(log(col("v")) * lit(1e6)).cast("bigint"))
          .as("nll"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("nll_micro"))
    docs.select(col(idCol).as("__id"))
      .join(perPair, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        when(col("n_bigrams") > 0L,
          expr("nll_micro div n_bigrams")).as("avg_nll_micro"))
  }

  /** Zero-exchange scorer: folds the minCount-pruned model into a
    * broadcast [[LmProbe]] and computes every document's score in ONE
    * projection over its token array ([[BigramNllExpr]]) — no explode, no
    * model join, no doc-keyed re-aggregation. Same output as
    * [[scoreBigramLm]], bit-identical (LangModelSuite fence): every
    * micronat constant in the probe is computed BY SPARK with the same
    * `round(log(...) * 1e6)` tree the composed path evaluates, so no
    * Scala-side rounding can diverge.
    *
    * Scale shape (100 TB): the pruned model is the Zipf head — vocabulary-
    * not corpus-sized — and ships once per executor as a broadcast. The
    * corpus is touched exactly once, with zero shuffles. A pathological
    * vocabulary could exceed the broadcast budget, so [[scoreFromCache]]
    * takes it only when the model fits [[DriverBudget]]; the composed join
    * path remains the fallback there.
    */
  private[graft] def scoreBigramLmBroadcast(docs: DataFrame, model: DataFrame,
                                            unigrams: DataFrame,
                                            textCol: String = "text",
                                            idCol: String = "doc_id"): DataFrame = {
    val uniRows = vocabRows(unigrams)
    val v = if (uniRows.isEmpty) 0L else uniRows(0).getLong(1)
    requireVocab(v)
    val oovMicro = uniRows(0).getLong(2)
    val tokens = new Array[String](uniRows.length)
    val floors = new Array[Long](uniRows.length)
    val idOf = new java.util.HashMap[String, Int](uniRows.length * 2)
    var i = 0
    while (i < uniRows.length) {
      tokens(i) = uniRows(i).getString(0)
      floors(i) = uniRows(i).getLong(3)
      idOf.put(tokens(i), i)
      i += 1
    }
    val modelRows = model
      .select(col("w1"), col("w2"), (-col("w_micro")).as("contrib"))
      .collect()
    val bigramIds = new Array[(Int, Int)](modelRows.length)
    val contribs = new Array[Long](modelRows.length)
    i = 0
    while (i < modelRows.length) {
      // both words are in the kept vocabulary by model construction
      bigramIds(i) = (idOf.get(modelRows(i).getString(0)),
        idOf.get(modelRows(i).getString(1)))
      contribs(i) = modelRows(i).getLong(2)
      i += 1
    }
    scoreWithProbe(docs, LmProbe(tokens, floors, oovMicro, bigramIds, contribs),
      textCol, idCol)
  }

  /** The vocabulary side of the broadcast probe in ONE collect: per kept
    * token its smoothing floor `round(ln(c_uni + V) * 1e6)`, with V (the
    * vocabulary's row count, a window count over the whole frame) and the
    * OOV floor `round(ln(V) * 1e6)` on every row — all SPARK-computed, so
    * they are the composed path's values bit for bit. Rows are
    * (token, v, oov, fl).
    */
  private def vocabRows(unigrams: DataFrame): Array[Row] =
    unigrams.select(col("token"), col("c_uni"), count(lit(1)).over().as("v"))
      .select(col("token"), col("v"),
        round(log(col("v")) * lit(1e6)).cast("bigint").as("oov"),
        round(log(col("c_uni") + col("v")) * lit(1e6)).cast("bigint").as("fl"))
      .collect()

  /** The V >= 2 guard of [[scoreBigramLm]], raised on the driver where V
    * is already known (an empty vocabulary has V = 0).
    */
  private def requireVocab(v: Long): Unit =
    if (v < 2) throw new IllegalArgumentException(
      s"scoreBigramLm: kept vocabulary size V = $v but the ln(V) " +
        "out-of-vocab floor needs V >= 2")

  /** Every document's score in one projection probing a broadcast `probe`. */
  private def scoreWithProbe(docs: DataFrame, probe: LmProbe,
                             textCol: String, idCol: String): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(probe)
    docs.select(col(idCol).as("__id"),
        BigramNllExpr.bigramNll(toks(textCol), bc).as("s"))
      .select(
        col("__id").as(idCol),
        coalesce(col("s.n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("s.nll_micro"), lit(0L)).as("nll_micro"),
        when(col("s.n_bigrams") > 0L,
          expr("s.nll_micro div s.n_bigrams")).as("avg_nll_micro"))
  }

  /** Spark's `round(log(x) * 1e6).cast("bigint")` on the driver: `Log` is
    * `StrictMath.log` (NULL for x <= 0, which V >= 2 rules out), `Round`
    * on a double is `BigDecimal(d).setScale(0, HALF_UP)` of its decimal
    * string, and the cast of an integral double in LONG range is exact.
    */
  private def micro(x: Double): Long =
    BigDecimal(StrictMath.log(x) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  /** The [[LmProbe]] of [[scoreBigramLmFused]]'s Spark path, built on the
    * driver from the collected pair counts (w1, w2, c) with the same
    * arithmetic: exact LONG unigram sums over each w1 slot, the same
    * `minCount` filters and joins, V as the kept-vocabulary count, and
    * every micronat constant through [[micro]] of the same double: a LONG
    * sum `c_uni + V` converted once, and `(c_big + 1.0) / (c_uni + V)`.
    */
  private def probeFromPairCounts(pairs: Array[Row], minCount: Int): LmProbe = {
    val uni = new java.util.HashMap[String, java.lang.Long]()
    for (r <- pairs) {
      val c = uni.get(r.getString(0))
      uni.put(r.getString(0), if (c == null) r.getLong(2) else Math.addExact(c.longValue, r.getLong(2)))
    }
    uni.values.removeIf(_.longValue < minCount)
    val v = uni.size.toLong
    requireVocab(v)
    val tokens = new Array[String](uni.size)
    val floors = new Array[Long](uni.size)
    val idOf = new java.util.HashMap[String, Int](uni.size * 2)
    var i = 0
    uni.forEach { (t, c) =>
      tokens(i) = t
      floors(i) = micro(Math.addExact(c.longValue, v).toDouble)
      idOf.put(t, i)
      i += 1
    }
    // the joins on w1 and w2 drop NULL keys
    val model = pairs.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getLong(2) >= minCount &&
      idOf.containsKey(r.getString(0)) && idOf.containsKey(r.getString(1)))
    LmProbe(tokens, floors, micro(v.toDouble),
      model.map(r => (idOf.get(r.getString(0)), idOf.get(r.getString(1)))),
      model.map(r => -micro((r.getLong(2).toDouble + 1.0) /
        Math.addExact(uni.get(r.getString(0)).longValue, v).toDouble)))
  }

  /** One-shuffle trainer + zero-exchange scorer (r13): the whole
    * train-and-score pipeline with a SINGLE corpus-sized exchange.
    *
    * The composed formulation tokenizes and explodes the corpus TWICE
    * (unigram counts, then bigram counts) — two corpus explodes, two
    * corpus-sized shuffles — before scoring. This path explodes once:
    * each document contributes its adjacent pairs PLUS one terminator row
    * `(lastToken, NULL)`, so a token's unigram frequency is exactly the
    * sum of pair counts over its `w1` slot (every token position starts
    * exactly one pair-or-terminator). One pair-keyed groupBy with map-side
    * combine is the only corpus-sized shuffle; the persisted pair-count
    * frame is vocabulary²-bounded (Zipf-small), and unigrams, the model
    * and the broadcast probe all derive from it without touching the
    * corpus again. Scoring is the [[scoreBigramLmBroadcast]] projection.
    *
    * Dispatch, on the pair-type count the cache build observes (no extra
    * pass): a cache that fits [[DriverBudget]] at Spark's estimated width
    * of its (string, string, bigint) rows — 56 bytes, so ~187k pair types
    * at the default 10 MB threshold — is read in one job, released, and
    * the vocabulary, V, the floors and the model are computed on the
    * driver ([[probeFromPairCounts]]) in Spark's arithmetic, where Spark
    * plans would cost a job per vocabulary, model and broadcast read.
    * Above the budget (or with the threshold <= 0) they are Spark plans
    * over the cache ([[scoreFromCache]]).
    *
    * Bit-identity: unigram counts are the same exact integers (sum of
    * disjoint position counts), the model formula is literally
    * [[trainBigramLm]]'s, and the scorer is the fenced broadcast path —
    * LangModelSuite fences this end-to-end against the composed
    * unigramCounts + trainBigramLm + scoreBigramLm chain, and the driver-
    * trained probe against the Spark-trained one, cell for cell.
    */
  def scoreBigramLmFused(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         minCount: Int = 2): DataFrame = {
    // Token array PRE-PROJECTED under the Generate: inlining `toks` into
    // the generator expression re-evaluates the regex split per reference
    // (5x per row measured — ProbeLmPlan; the optimizer does not collapse
    // a Project into a generator), while the pre-projection plans exactly
    // one split per row (2.82 -> 1.77 s for the training stage at 100x).
    // The probe: `git show bbeb2bc:src/main/scala/graft/tools/ProbeLmPlan.scala`
    val stream = docs.select(toks(textCol).as("__t"))
      .select(explode(concat(
        bigramPairs(col("__t")),
        // (lastToken, NULL) terminator; null/absent text contributes
        // nothing (concat of a null array is null, explode emits no rows)
        array(struct(try_element_at(col("__t"), lit(-1)).as("w1"),
          lit(null).cast("string").as("w2"))))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    // The pair-count cache is an eager localCheckpoint (EagerCache), not a
    // persist(): Spark 4.1 keeps a persisted aggregate at its static
    // spark.sql.shuffle.partitions width, because a cached plan may not
    // change its output partitioning
    // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning = false),
    // so AQE cannot coalesce it — at Spark's default of 200, two 200-task
    // stages built and counted the cache of a 1,000-document corpus. The
    // checkpoint lands in the partitions AQE sizes from the data and stays
    // distributed at web-corpus scale. It is built NOW, in one pass: the
    // model plan references pairCounts four times (main scan + two unigram
    // broadcasts + V), and broadcast-exchange jobs launch first and would
    // RACE to build a cold cache — measured as the corpus explode running
    // 2-3x inside model.count(). The build job also observes the number of
    // pair types, which decides with no further pass: a cache that fits
    // the driver budget ([[DriverBudget]], at Spark's estimated width of a
    // (string, string, bigint) row) is read once, released, and trained on
    // the driver ([[probeFromPairCounts]]): one job instead of the
    // vocabulary, model and broadcast jobs of [[scoreFromCache]].
    val (pairCountsCache, nPairTypes) = EagerCache.build(
      stream.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val driverMax = DriverBudget.rows(pairCountsCache)
    if (driverMax > 0 && nPairTypes <= driverMax) {
      val pairs = try pairCountsCache.collect() finally EagerCache.release(pairCountsCache)
      scoreWithProbe(docs, probeFromPairCounts(pairs, minCount), textCol, idCol)
    } else scoreFromCache(docs, pairCountsCache, textCol, idCol, minCount)
  }

  /** [[scoreBigramLmFused]] over a pair-count cache above the driver
    * budget (or with the threshold <= 0): vocabulary and model are Spark
    * plans over the cache. The model is scored by the broadcast probe when
    * its rows fit [[DriverBudget]] at Spark's estimated width of the
    * (w1, w2, w_micro) rows the probe collects, and by the join scorer
    * otherwise. The pair-type count that sent the cache here bounds the
    * model but, at that same width, never fits, so the model is counted.
    */
  private def scoreFromCache(docs: DataFrame, pairCounts: DataFrame,
                             textCol: String, idCol: String, minCount: Int): DataFrame = {
    var keep = false
    try {
      val unigrams = pairCounts.groupBy("w1").agg(sum("c").as("c_uni"))
        .filter(col("c_uni") >= minCount)
        .select(col("w1").as("token"), col("c_uni"))
      val v = unigrams.agg(count(lit(1)).as("v"))
      val model = pairCounts.filter(col("w2").isNotNull)
        .filter(col("c") >= minCount)
        .select(col("w1"), col("w2"), col("c").as("c_big"))
        .join(broadcast(unigrams.select(col("token").as("w1"), col("c_uni"))), Seq("w1"))
        .join(broadcast(unigrams.select(col("token").as("w2"))), Seq("w2"))
        .crossJoin(broadcast(v))
        .select(col("w1"), col("w2"), col("c_big"), col("c_uni"),
          round(log((col("c_big") + lit(1.0)) / (col("c_uni") + col("v"))) * lit(1e6))
            .cast("bigint").as("w_micro"))
      val maxRows = DriverBudget.rows(model.select(col("w1"), col("w2"), col("w_micro")))
      // the broadcast scorer collects the model and vocabulary into its
      // probe; the join scorer reads them lazily, so its returned plan
      // keeps the cache (see EagerCache.release)
      if (maxRows > 0 && model.count() <= maxRows)
        scoreBigramLmBroadcast(docs, model, unigrams, textCol, idCol)
      else { keep = true; scoreBigramLm(docs, model, unigrams, textCol, idCol) }
    } finally if (!keep) EagerCache.release(pairCounts)
  }
}
