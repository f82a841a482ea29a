package graft

import org.apache.spark.sql.functions._

import graft.ops.Classifier

/** Behavior gates for the Naive Bayes model-based filter: weight signs
  * follow class evidence, scoring is total (every doc appears), the
  * learned language classifier actually separates the corpus's language
  * pools, and the micro-integer scores are partition-count invariant
  * (the determinism property the oracle hash-gate depends on).
  */
class ClassifierSuite extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("nb weights: class-exclusive tokens get the right sign") {
    val d = Seq(
      (1L, "alpha alpha beta", "pos"), (2L, "alpha gamma beta", "pos"),
      (3L, "delta delta beta", "neg"), (4L, "delta epsilon beta", "neg"))
      .toDF("doc_id", "text", "cls")
    val m = Classifier.trainNaiveBayes(d, col("cls") === "pos", minCount = 1)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m("alpha") > 0, "positive-only token must carry positive weight")
    assert(m("delta") < 0, "negative-only token must carry negative weight")
    assert(math.abs(m("beta")) < math.abs(m("alpha")),
      "shared token must be weaker evidence than an exclusive one")
  }

  test("nb scoring is total: unknown-token docs still score with the prior") {
    val train = Seq((1L, "alpha", true), (2L, "delta", false))
      .toDF("doc_id", "text", "pos")
    val m = Classifier.trainNaiveBayes(train, col("pos"), minCount = 1)
    val score = Classifier.scoreNaiveBayes(
      Seq((1L, "alpha"), (2L, "delta"), (3L, "zzz qqq")).toDF("doc_id", "text"),
      m, col("doc_id") === 1L)
    val rows = score.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 3, "every doc must appear in the output")
    // doc 3 has no vocabulary token: its score is exactly the prior
    val prior = math.round(math.log(2.0 / 3.0) * 1e6)
    assert(rows(3L) == prior, s"expected bare prior $prior, got ${rows(3L)}")
  }

  test("learned classifier separates classes with distinctive vocabulary") {
    // the driver's corpus draws every lang label from ONE shared vocabulary
    // (labels are uncorrelated with text), so the separation gate runs on a
    // synthetic corpus whose classes differ the way real languages do: a
    // shared function-word pool plus class-exclusive content words
    val shared = Seq("the", "a", "of", "and")
    val rnd = new scala.util.Random(7)
    def doc(id: Long, pos: Boolean): (Long, String, Boolean) = {
      val content = if (pos) Seq("alpha", "beta", "gamma") else Seq("delta", "eps", "zeta")
      val words = Seq.fill(12)(
        if (rnd.nextInt(3) == 0) shared(rnd.nextInt(shared.size))
        else content(rnd.nextInt(content.size)))
      (id, words.mkString(" "), pos)
    }
    val d = (1L to 200L).map(i => doc(i, i % 2 == 0)).toDF("doc_id", "text", "pos")
    val m = Classifier.trainNaiveBayes(d, col("pos"), minCount = 2)
    val scored = Classifier.scoreNaiveBayes(d, m, col("pos"))
      .join(d.select(col("doc_id"), col("pos").as("truth")), Seq("doc_id"))
    val (hits, n) = {
      val agg = scored.agg(
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)),
        count(lit(1))).head
      (agg.getLong(0), agg.getLong(1))
    }
    // in-sample accuracy on near-disjoint content vocabulary: gate at 95%
    assert(hits.toDouble / n >= 0.95, s"accuracy ${hits.toDouble / n} < 0.95 ($hits/$n)")
  }

  test("broadcast-probe scorer is bit-identical to the composed chain") {
    // corpus fence: every (doc_id, score_micro, pred) cell must match
    val m = Classifier.trainNaiveBayes(docs, col("lang") === "en", minCount = 2)
    val composed = Classifier.scoreNaiveBayes(docs, m, col("lang") === "en")
      .orderBy("doc_id").collect()
    val probe = Classifier.scoreNaiveBayesBroadcast(docs, m, col("lang") === "en")
      .orderBy("doc_id").collect()
    assert(composed.sameElements(probe),
      "broadcast-probe NB scores diverge from the composed formulation")
  }

  test("broadcast-probe scorer: edge documents match the composed chain") {
    // empty text ('' tokenizes to [\"\"]), whitespace-only, 1 token, pure
    // OOV, vertical tab (\\x0B is in Java's \\s), null text, surrogate pair
    val train = Seq(
      (1L, "alpha alpha beta", true), (2L, "alpha gamma beta", true),
      (3L, "delta delta beta", false), (4L, "delta epsilon beta", false),
      (5L, "", true), (6L, "", false))
      .toDF("doc_id", "text", "pos")
    val m = Classifier.trainNaiveBayes(train, col("pos"), minCount = 1)
    val edge = Seq(
      (10L, "alpha delta beta"), (11L, ""), (12L, "   \t  "), (13L, "alpha"),
      (14L, "zzz qqq www"), (15L, "alphadelta"), (16L, null),
      (17L, "😀 alpha"))
      .toDF("doc_id", "text")
    val composed = Classifier.scoreNaiveBayes(edge, m, col("doc_id") < 14L)
      .orderBy("doc_id").collect()
    val probe = Classifier.scoreNaiveBayesBroadcast(edge, m, col("doc_id") < 14L)
      .orderBy("doc_id").collect()
    assert(composed.sameElements(probe),
      "edge-document NB scores diverge between probe and composed paths")
  }

  test("fused train-and-score is bit-identical to the composed chain") {
    // corpus fence for the r14 carried-prior path: every (doc_id,
    // score_micro, pred) cell must match train + composed score
    val m = Classifier.trainNaiveBayes(docs, col("lang") === "en", minCount = 2)
    val composed = Classifier.scoreNaiveBayes(docs, m, col("lang") === "en")
      .orderBy("doc_id").collect()
    val fused = Classifier.trainAndScoreNaiveBayes(docs, col("lang") === "en",
        minCount = 2)
      .orderBy("doc_id").collect()
    assert(composed.sameElements(fused),
      "fused train-and-score diverges from the composed formulation")
  }

  test("fused train-and-score: edge docs (null/empty text, null label) match") {
    // null text must still count toward the prior (it contributes only the
    // terminator row); a null label behaves as negative on both paths
    val d = Seq(
      (1L, "alpha alpha beta", "pos"), (2L, "alpha gamma beta", "pos"),
      (3L, "delta delta beta", "neg"), (4L, "delta epsilon beta", "neg"),
      (5L, null, "pos"), (6L, "", "neg"), (7L, "   \t  ", null),
      (8L, "😀 alpha", "pos"))
      .toDF("doc_id", "text", "cls")
    val m = Classifier.trainNaiveBayes(d, col("cls") === "pos", minCount = 1)
    val composed = Classifier.scoreNaiveBayes(d, m, col("cls") === "pos")
      .orderBy("doc_id").collect()
    val fused = Classifier.trainAndScoreNaiveBayes(d, col("cls") === "pos",
        minCount = 1)
      .orderBy("doc_id").collect()
    assert(composed.sameElements(fused),
      "edge-doc fused train-and-score diverges from the composed chain")
  }

  test("fused train-and-score: over-budget shuffle fallback matches") {
    val m = Classifier.trainNaiveBayes(docs, col("lang") === "en", minCount = 2)
    val expected = Classifier.scoreNaiveBayes(docs, m, col("lang") === "en")
      .orderBy("doc_id").collect()
    val fused = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
      Classifier.trainAndScoreNaiveBayes(docs, col("lang") === "en", minCount = 2)
        .orderBy("doc_id").collect())
    assert(expected.sameElements(fused),
      "fused shuffle fallback diverges from the composed chain")
  }

  test("micro-integer scores are partition-count invariant") {
    val base = Classifier.scoreNaiveBayes(docs,
      Classifier.trainNaiveBayes(docs, col("lang") === "en", minCount = 2),
      col("lang") === "en").orderBy("doc_id").collect()
    val repart = docs.repartition(13)
    val other = Classifier.scoreNaiveBayes(repart,
      Classifier.trainNaiveBayes(repart, col("lang") === "en", minCount = 2),
      col("lang") === "en").orderBy("doc_id").collect()
    assert(base.sameElements(other), "scores must not depend on partitioning")
  }
}
