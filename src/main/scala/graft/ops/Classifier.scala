package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NbProbe, NbTokenSumExpr}

/** Model-based quality/class filtering — the "train a cheap linear
  * classifier on labeled seeds, score the whole corpus" pass that
  * production curation pipelines run between heuristic filtering and
  * tokenization (fastText-style classifiers in C4/CCNet/DCLM lineage).
  * Here: multinomial Naive Bayes over whitespace tokens, trained and
  * applied entirely as Spark SQL plans.
  *
  * Determinism discipline: all counts are exact integers; each token's
  * log-likelihood-ratio weight is ONE libm `ln` of an exactly-represented
  * rational (every integer product stays far below 2^53, so the quotient
  * is the same IEEE double on any engine), then micro-scaled to a BIGINT
  * (`round(ln(...)*1e6)`). Per-document scores are SUMS OF INTEGERS —
  * addition-order-free, so the whole operator is hash-gateable against a
  * DuckDB replay (entries t_nb_model / t_nb_score) with no
  * float-summation caveats.
  *
  * Scale shape (100 TB): training is one token-keyed shuffle with map-side
  * partial counts (vocabulary-sized output, corpus-sized input); the
  * min-count cut keeps the model bounded, and scoring joins the exploded
  * corpus against the BROADCAST model (a capped vocabulary fits every
  * executor) followed by one doc-keyed partial-sum shuffle. No
  * corpus-sized side ever broadcasts; no driver-side loops.
  */
object Classifier {

  /** Shared tokenization convention (same as TextAnalysis/Relevance):
    * whitespace split of `lower(trim(text))`. */
  private def toks(textCol: String): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** Train a two-class multinomial Naive Bayes model.
    *
    * Returns one row per vocabulary token (corpus token frequency >=
    * `minCount` after the positive/negative split):
    * `(token, n_pos, n_neg, w_micro)` where
    *
    *   w_micro = round( ln( ((n_pos+1) * (tot_neg+V))
    *                      / ((n_neg+1) * (tot_pos+V)) ) * 1e6 )
    *
    * is the add-one-smoothed log-likelihood ratio in integer micronats.
    * `tot_pos`/`tot_neg` are total token occurrences of each class over
    * the KEPT vocabulary and `V` its size, so the model is self-contained
    * and exactly replayable from its own counts.
    *
    * `isPositive` is any boolean row expression over `docs` (e.g.
    * `col("lang") === "en"` to learn a language classifier, or a quality
    * heuristic to learn a quality filter).
    */
  def trainNaiveBayes(docs: DataFrame, isPositive: Column,
                      textCol: String = "text",
                      minCount: Int = 2): DataFrame = {
    val counts = docs
      .select(isPositive.as("__pos"), explode(toks(textCol)).as("token"))
      .groupBy("token")
      .agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("n_neg"))
      .filter(col("n_pos") + col("n_neg") >= minCount)
    val tot = counts.agg(
      sum("n_pos").as("tot_pos"), sum("n_neg").as("tot_neg"),
      count(lit(1)).as("v"))
    // 1-row totals frame; AQE broadcasts the cross join. The arithmetic
    // below is mirrored literally in the oracle SQL.
    counts.crossJoin(broadcast(tot)).select(
      col("token"), col("n_pos"), col("n_neg"),
      round(log(
        ((col("n_pos") + lit(1.0)) * (col("tot_neg") + col("v"))) /
          ((col("n_neg") + lit(1.0)) * (col("tot_pos") + col("v")))) * lit(1e6))
        .cast("bigint").as("w_micro"))
  }

  /** Score every document under a trained model: `(id, score_micro,
    * pred)` where `score_micro = prior_micro + sum of w_micro over the
    * doc's tokens with multiplicity` (unknown tokens contribute 0) and
    * `pred = score_micro > 0`. The class prior
    * `prior_micro = round(ln((n_pos_docs+1)/(n_neg_docs+1)) * 1e6)` is
    * computed from the same `isPositive` labeling. Every document
    * appears in the output, including all-unknown-token ones.
    */
  def scoreNaiveBayes(docs: DataFrame, model: DataFrame, isPositive: Column,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val prior = docs.agg(
      round(log(
        (sum(when(isPositive, 1L).otherwise(0L)) + lit(1.0)) /
          (sum(when(isPositive, 0L).otherwise(1L)) + lit(1.0))) * lit(1e6))
        .cast("bigint").as("prior_micro"))
    val tokSums = docs
      .select(col(idCol).as("__id"), explode(toks(textCol)).as("token"))
      .join(broadcast(model.select(col("token"), col("w_micro"))), Seq("token"))
      .groupBy("__id")
      .agg(sum("w_micro").as("__wsum"))
    docs.select(col(idCol).as("__id"))
      .join(tokSums, Seq("__id"), "left")
      .crossJoin(broadcast(prior))
      .select(
        col("__id").as(idCol),
        (coalesce(col("__wsum"), lit(0L)) + col("prior_micro")).as("score_micro"))
      .withColumn("pred", col("score_micro") > 0L)
  }

  /** Zero-exchange scorer (r13 optimization): folds the minCount-pruned
    * model into a broadcast [[NbProbe]] and computes every document's
    * score in ONE projection over its token array ([[NbTokenSumExpr]]) —
    * no explode, no model join, no doc-keyed re-aggregation, no join-back
    * (every doc row computes its own sum, so totality is free). Same
    * output as [[scoreNaiveBayes]], bit-identical (ClassifierSuite fence):
    * the probe's w_micro values are the model DataFrame's own BIGINTs
    * collected verbatim, the prior is the same Spark-evaluated
    * `round(log(...)*1e6)` expression, and integer addition is
    * order-free, so the folded sum equals the exploded groupBy SUM.
    *
    * Scale shape (100 TB): the pruned model is a capped vocabulary —
    * Zipf-head-sized, not corpus-sized — and ships once per executor as a
    * broadcast. The corpus is touched once for the prior (column-pruned
    * label scan) and once for scoring, with zero scoring-side shuffles.
    * [[trainAndScoreNaiveBayes]] takes it only when the model fits
    * [[DriverBudget]]; a shuffle join remains the fallback above it.
    */
  private[graft] def scoreNaiveBayesBroadcast(docs: DataFrame, model: DataFrame,
                                              isPositive: Column,
                                              textCol: String = "text",
                                              idCol: String = "doc_id"): DataFrame = {
    // prior computed BY SPARK with the composed path's exact expression
    // tree (bit-identity discipline — Scala never rounds). It rides the
    // scoring action as a broadcast subtree (the shuffle path's own
    // shape) rather than an eager collect: one fewer driver-synchronous
    // job per call — at toy scale each such job is a whole scheduling
    // round, and at any scale it is a driver round-trip the scoring job
    // can overlap instead.
    val prior = docs.agg(
      round(log(
        (sum(when(isPositive, 1L).otherwise(0L)) + lit(1.0)) /
          (sum(when(isPositive, 0L).otherwise(1L)) + lit(1.0))) * lit(1e6))
        .cast("bigint").as("prior_micro"))
    scoreNaiveBayesBroadcastWithPrior(docs, model, prior, textCol, idCol)
  }

  /** [[scoreNaiveBayesBroadcast]] with a caller-supplied 1-row prior frame
    * (`prior_micro` BIGINT) — the carried-prior entry the fused
    * train-and-score path uses so the scoring job touches the corpus
    * exactly once.
    */
  private def scoreNaiveBayesBroadcastWithPrior(docs: DataFrame, model: DataFrame,
                                                prior: DataFrame, textCol: String,
                                                idCol: String): DataFrame = {
    val spark = docs.sparkSession
    val rows = model.select(col("token"), col("w_micro")).collect()
    val tokens = new Array[String](rows.length)
    val ws = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) {
      tokens(i) = rows(i).getString(0)
      ws(i) = rows(i).getLong(1)
      i += 1
    }
    val probe = spark.sparkContext.broadcast(NbProbe(tokens, ws))
    docs.select(col(idCol).as("__id"),
        NbTokenSumExpr.nbTokenSum(toks(textCol), probe).as("__wsum"))
      .crossJoin(broadcast(prior))
      .select(
        col("__id").as(idCol),
        (coalesce(col("__wsum"), lit(0L)) + col("prior_micro")).as("score_micro"))
      .withColumn("pred", col("score_micro") > 0L)
  }

  /** The composed scorer with a shuffle_hash model join and a
    * caller-supplied prior: the over-budget path of
    * [[trainAndScoreNaiveBayes]] (identical arithmetic to
    * [[scoreNaiveBayes]]; only the join strategy differs, because a model
    * past the broadcast budget must never be elected a broadcast side).
    */
  private def scoreNaiveBayesShuffle(docs: DataFrame, model: DataFrame,
                                              prior: DataFrame, textCol: String,
                                              idCol: String): DataFrame = {
    val tokSums = docs
      .select(col(idCol).as("__id"), explode(toks(textCol)).as("token"))
      .join(model.select(col("token"), col("w_micro")).hint("shuffle_hash"),
        Seq("token"))
      .groupBy("__id")
      .agg(sum("w_micro").as("__wsum"))
    docs.select(col(idCol).as("__id"))
      .join(tokSums, Seq("__id"), "left")
      .crossJoin(broadcast(prior))
      .select(
        col("__id").as(idCol),
        (coalesce(col("__wsum"), lit(0L)) + col("prior_micro")).as("score_micro"))
      .withColumn("pred", col("score_micro") > 0L)
  }

  /** Fused trainer + scorer (r14): the whole train-and-score pipeline with
    * ONE training-side corpus pass and ONE scoring-side corpus pass.
    *
    * The composed formulation (trainNaiveBayes + scoreNaiveBayes) scans
    * the corpus THREE times: the token-keyed training explode, the
    * column-pruned label scan for the class prior, and the scoring scan.
    * Here the training explode carries the prior out of its own pass with
    * a per-document NULL-token terminator row (the t_lm_score/t_cms carry
    * trick): tokens are never null (`split` yields strings), so the
    * NULL-token group's (n_pos, n_neg) are EXACTLY the per-class document
    * counts — including empty/null-text documents, which contribute their
    * terminator and nothing else. The model derives from the non-null
    * groups with [[trainNaiveBayes]]'s literal arithmetic (the terminator
    * group never passes the `token IS NOT NULL` cut), and the prior is the
    * same Spark-evaluated `round(ln((n_pos+1)/(n_neg+1)) * 1e6)` tree over
    * the same exact integers — bit-identical end to end (ClassifierSuite
    * fence against the composed chain).
    *
    * Scale shape (100 TB): identical to the composed path's training
    * shuffle (one token-keyed exchange, map-side combined; the terminator
    * adds one row per document, ~1% of token volume) — minus one full
    * corpus scan. Scorer dispatch: the broadcast probe when the model's
    * (token, w_micro) rows fit [[DriverBudget]] at Spark's estimated width
    * of that row (36 bytes: ~291k tokens at the default 10 MB threshold),
    * a shuffle join above it or with the threshold <= 0.
    */
  def trainAndScoreNaiveBayes(docs: DataFrame, isPositive: Column,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              minCount: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    val term = array(lit(null).cast("string"))
    val stream = docs.select(isPositive.as("__pos"),
      // null/absent text still contributes its terminator (concat of a
      // null array is null; coalesce restores the 1-element terminator)
      explode(coalesce(concat(toks(textCol), term), term)).as("token"))
    // materialized in one pass (an eager checkpoint, so AQE sizes it from
    // the data — see EagerCache): the model plan reads this cache for the
    // vocabulary totals broadcast AND the main scan, and the prior and
    // model reads read it again — a cold cache would race. The build job
    // also counts the cache's rows, which bound the model's (a filtered
    // subset joined to one row), so the model is counted against the
    // driver budget only when that bound does not fit.
    val (counts0, nTokens) = EagerCache.build(stream.groupBy("token").agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("n_neg")))
    var keep = false
    try {
      val counts = counts0.filter(col("token").isNotNull)
        .filter(col("n_pos") + col("n_neg") >= minCount)
      val tot = counts.agg(
        sum("n_pos").as("tot_pos"), sum("n_neg").as("tot_neg"),
        count(lit(1)).as("v"))
      val model = counts.crossJoin(broadcast(tot)).select(
        col("token"), col("n_pos"), col("n_neg"),
        round(log(
          ((col("n_pos") + lit(1.0)) * (col("tot_neg") + col("v"))) /
            ((col("n_neg") + lit(1.0)) * (col("tot_pos") + col("v")))) * lit(1e6))
          .cast("bigint").as("w_micro"))
      // prior from the terminator group: n_pos/n_neg there are the
      // per-class DOCUMENT counts — same integers the composed path's
      // label scan sums, through the same expression tree. Collected (one
      // 1-row job over the live cache) into a local 1-row frame because
      // the returned plan outlives the cache.
      val priorQ = counts0.filter(col("token").isNull)
        .select(round(log(
          (col("n_pos") + lit(1.0)) / (col("n_neg") + lit(1.0))) * lit(1e6))
          .cast("bigint").as("prior_micro"))
      val prior = spark.createDataFrame(
        java.util.Arrays.asList(priorQ.collect(): _*), priorQ.schema)
      val maxRows = DriverBudget.rows(model.select(col("token"), col("w_micro")))
      // the broadcast scorer collects the model into its probe; the
      // shuffle scorer reads it lazily, so its returned plan keeps the
      // cache (see EagerCache.release)
      if (maxRows > 0 && (nTokens <= maxRows || model.count() <= maxRows))
        scoreNaiveBayesBroadcastWithPrior(docs, model, prior, textCol, idCol)
      else { keep = true; scoreNaiveBayesShuffle(docs, model, prior, textCol, idCol) }
    } finally if (!keep) EagerCache.release(counts0)
  }
}
