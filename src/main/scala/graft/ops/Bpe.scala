package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary induction — learning
  * the merge table that [[graft.functions.SubwordTokenizeExpr]] consumes.
  * Completes the tokenizer story: induce merges from the corpus here,
  * tokenize with them, pack with [[Packing]].
  *
  * Classic BPE (Sennrich et al. 2016, arXiv:1508.07909): start from
  * per-character symbols, repeatedly find the most frequent adjacent
  * symbol pair (weighted by word frequency) and fuse it, one simultaneous
  * left-to-right pass per step.
  *
  * Scale shape: the only corpus-sized stage is the word count — one
  * shuffle, map-side combined. Everything after runs on the WORD
  * VOCABULARY (capped at `topWords` rows), which is millions of rows at
  * 100 TB, not terabytes: each merge step is a pair-count aggregation
  * plus a top-1 reduction over that small table. The driver pulls ONE row
  * per step (the argmax pair) — BPE training is inherently a
  * driver-coordinated iteration; the per-step plan is kept O(1) with an
  * eager localCheckpoint (the connected-components lesson). Ties break
  * deterministically by (count DESC, left ASC, right ASC) in binary
  * string order, identical in Spark and DuckDB (UTF-8 byte order =
  * codepoint order).
  *
  * Every step's winning pair and its count are integer-exact, so the
  * driver oracle replays the full recurrence: the greedy one-pass merge
  * is expressed non-recursively in SQL by grouping consecutive
  * match-position runs and keeping odd ranks (greedy takes the 1st, 3rd,
  * ... of each overlap run).
  */
object Bpe {

  /** Learn `nMerges` merges from the corpus; returns the merge table
    * (step, lft, rgt, n) in learning order — step and n are bigint, n is
    * the frequency-weighted count of the pair when it won.
    */
  def learnMerges(docs: DataFrame, textCol: String = "text", nMerges: Int = 10,
                  maxWordLen: Int = 20, topWords: Int = 2000): DataFrame = {
    require(nMerges >= 1, s"nMerges $nMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus -> word frequencies: the ONE full-data pass; deterministic
    // top-K by (freq DESC, word ASC) bounds all later work
    val words = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count("*").as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topWords)
    // r13 optimization: the merge rounds run over the CAPPED word
    // vocabulary (topWords rows — a parameter-bounded dimension table, not
    // the corpus), yet each distributed round paid a pair-count shuffle +
    // top-1 sort + localCheckpoint — 3-4 stage floors per round, ~10 rounds
    // of sub-second jobs (t_bpe 2.99 s at 100x, ~0.6 s of it corpus work).
    // Collect the capped vocabulary ONCE and run the rounds driver-side
    // with the identical integer arithmetic and the identical
    // (n DESC, l ASC, r ASC) tie-break in UTF-8 byte order (Spark's binary
    // string comparator). Fenced cell-for-cell against the distributed
    // rounds in BpeSuite, incl. tie and supplementary-codepoint cases.
    // The corpus-sized work (word count) stays in Spark either way; the
    // distributed rounds remain for a configured vocabulary past the
    // driver budget ([[DriverBudget]]) at 650 bytes a word: MEASURED, not
    // guessed (r14, ProbeBpeHeap), the collected vocab (freq + per-codepoint
    // symbol arrays) retains ~68 MB at 100k words and ~642 MB at 1M, and
    // the 10 single-core merge passes take ~4 s / ~10 s respectively —
    // ~16k words at the default 10 MB threshold. The probe:
    // `git show bbeb2bc:src/main/scala/graft/tools/ProbeBpeHeap.scala`
    val localMax = DriverBudget.rows(spark, 650)
    if (localMax > 0 && topWords <= localMax) return learnMergesLocal(spark, words, nMerges)
    var vocab: Dataset[(String, Long, Seq[String])] = words
      .select(col("word"), col("freq"),
        // split('') leaves a trailing empty match in Spark (limit -1) —
        // drop empties so symbols are exactly the word's codepoints
        expr("filter(split(word, ''), x -> x != '')").as("syms"))
      .as[(String, Long, Seq[String])]
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = vocab.toDF("word", "freq", "syms")
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> struct(syms[i] AS l, syms[i+1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step.toLong, a, b, n))
        vocab = vocab.map { case (w, f, syms) => (w, f, mergeOnce(syms, a, b)) }
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.result().toDF("step", "lft", "rgt", "n")
  }

  /** Driver-side merge rounds over the collected capped vocabulary —
    * bit-identical to the distributed rounds (same integer pair counts,
    * same tie-break order) with zero per-round Spark jobs.
    */
  private[graft] def learnMergesLocal(spark: org.apache.spark.sql.SparkSession,
                                      words: DataFrame, nMerges: Int): DataFrame = {
    import spark.implicits._
    val rows = words.collect()
    // symbols = the word's codepoints, exactly what the distributed path's
    // filter(split(word, ''), x -> x != '') yields (Java regex split
    // never cuts a surrogate pair)
    var vocab: Array[(Long, Array[String])] = rows.map { r =>
      val w = r.getString(0)
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        syms += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (r.getLong(1), syms.toArray)
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((freq, syms) <- vocab) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null
        var br: String = null
        var bn = Long.MinValue
        for (((l, r), n) <- counts) {
          // (n DESC, l ASC, r ASC); string order = unsigned UTF-8 bytes,
          // matching Spark/DuckDB binary string comparison exactly
          val better = n > bn || (n == bn && {
            val cl = utf8Compare(l, bl)
            cl < 0 || (cl == 0 && utf8Compare(r, br) < 0)
          })
          if (better) { bl = l; br = r; bn = n }
        }
        merges += ((step.toLong, bl, br, bn))
        val fused = bl + br
        vocab = vocab.map { case (f, syms) =>
          (f, mergeOnceArr(syms, bl, br, fused))
        }
        step += 1
      }
    }
    merges.result().toDF("step", "lft", "rgt", "n")
  }

  /** Unsigned lexicographic UTF-8 byte comparison — Spark's binary string
    * collation (UTF8String.compareTo) reproduced driver-side. */
  private def utf8Compare(a: String, b: String): Int = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  private def mergeOnceArr(syms: Array[String], a: String, b: String,
                           fused: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += fused; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** One simultaneous greedy left-to-right merge pass (a BPE "apply"):
    * fuse non-overlapping (a,b) occurrences, leftmost first.
    */
  def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }
}
