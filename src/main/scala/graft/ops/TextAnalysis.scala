package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, built
  * entirely from codegen'd Spark SQL functions (no UDFs) so they stay inside
  * whole-stage codegen and scale linearly with the scan.
  *
  * All operators are per-row (narrow) transformations: no shuffle, fully
  * pushdown-friendly — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace token count — `size(split(trim(text), "\\s+"))` semantics,
    * served from the fused one-pass stats expression (TextStatsExpr;
    * equivalence property-fenced in TextStatsSuite).
    */
  def tokenCount(text: Column): Column =
    graft.functions.TextStatsExpr.textStats(text).getField("n_tokens")

  /** BPE-ish subword count: the standard pre-tokenizer piece alphabet —
    * letter runs, digit runs, and single punctuation/symbol marks each count
    * as one piece (`\p{L}+|\p{N}+|[^\p{L}\p{N}\s]` semantics, lookaround-
    * free so RE2-based engines can replay it for oracle checks). Served
    * from the fused one-pass stats expression instead of the regex NFA.
    */
  def subwordCount(text: Column): Column =
    graft.functions.TextStatsExpr.textStats(text).getField("n_subwords")

  /** Corpus vocabulary: the `topN` most frequent lowercase whitespace
    * tokens with counts — the vocabulary-building step before BPE/unigram
    * tokenizer training. Deterministic tie-break (count DESC, token ASC).
    *
    * Scale shape: explode -> one hash shuffle on the token with map-side
    * partial counts (tokens, not documents, so the shuffle payload is the
    * distinct-token set per partition), then a TakeOrdered top-N — no full
    * sort. `minLen` drops empty tokens from leading/trailing whitespace.
    */
  def vocabulary(df: DataFrame, textCol: String = "text", topN: Int = 100,
                 minLen: Int = 1): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) >= minLen)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topN)

  /** Top-N word n-gram frequencies over the corpus (n-gram LM statistics).
    * Tokenization mirrors [[vocabulary]] (lowercase, whitespace split);
    * windowing mirrors `Dedup.shingles` (docs shorter than n contribute
    * their single short gram). Same scale shape as [[vocabulary]]: explode,
    * map-side partial counts, one shuffle on the gram, TakeOrdered top-N.
    */
  def ngramFrequencies(df: DataFrame, textCol: String = "text", n: Int = 2,
                       topN: Int = 100): DataFrame =
    df.select(explode(
        Cols.bindOnce(split(lower(trim(col(textCol))), "\\s+")) { words =>
          transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
            i => concat_ws(" ", slice(words, i + 1, lit(n))))
        }).as("ngram"))
      .filter(length(col("ngram")) >= 1)
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(topN)

  /** Quality signals: length, punctuation ratio, digit ratio, uppercase
    * ratio, mean word length, stopword-ish ratio (top English function
    * words). Composite score in [0,1] — higher = more prose-like.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    // all counters come from ONE fused scan (graft.functions.TextStatsExpr
    // — a native codegen'd Catalyst expression replacing three translate
    // passes plus two java.util.regex passes); identical field semantics
    // are property-fenced in TextStatsSuite. The struct subtree repeats
    // per output column here — whole-stage codegen's subexpression
    // elimination evaluates it once; analyze() below projects it once
    // explicitly and is the hot path.
    qualityColumnsFrom(graft.functions.TextStatsExpr.textStats(text))
  }

  /** Quality signals derived from an already-computed `text_stats` struct
    * column — ratio arithmetic only, no text scan.
    */
  def qualityColumnsFrom(stats: Column): Seq[(String, Column)] = {
    val len = stats.getField("n_chars").cast("double")
    val safeLen = greatest(len, lit(1.0))
    val punct = stats.getField("n_punct").cast("double") / safeLen
    val digits = stats.getField("n_digit").cast("double") / safeLen
    val upper = stats.getField("n_upper").cast("double") / safeLen
    val words = stats.getField("n_tokens").cast("double")
    val meanWordLen = len / greatest(words, lit(1.0))
    val stopRatio = stats.getField("stop_hits").cast("double") / greatest(words, lit(1.0))
    Seq(
      "n_chars" -> len,
      "n_tokens" -> words,
      "punct_ratio" -> punct,
      "digit_ratio" -> digits,
      "upper_ratio" -> upper,
      "mean_word_len" -> meanWordLen,
      "stopword_ratio" -> stopRatio
    )
  }

  /** Composite quality score in [0,1]. Penalizes extreme punctuation/digit
    * density, rewards mid-range word length and presence of stopwords
    * (prose signal) — the standard cheap pre-filter before model-based
    * scoring.
    */
  def qualityScore(text: Column): Column = {
    val cols = qualityColumns(text).toMap
    qualityScoreFrom(cols("n_tokens"), cols("punct_ratio"), cols("digit_ratio"),
      cols("mean_word_len"), cols("stopword_ratio"))
  }

  /** Score from precomputed signal columns — lets analyze() reference the
    * already-projected columns instead of recomputing every regex.
    */
  def qualityScoreFrom(nTokens: Column, punctRatio: Column, digitRatio: Column,
                       meanWordLen: Column, stopwordRatio: Column): Column = {
    val lenScore = least(nTokens / lit(50.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio * 4.0, lit(1.0))
    val digitScore = lit(1.0) - least(digitRatio * 4.0, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.4)
    val stopScore = least(stopwordRatio * 3.0, lit(1.0))
    round((lenScore + punctScore + digitScore + wordLenScore + stopScore) / 5.0, 4)
  }

  /** Character n-gram profiles per language for the ASCII-representable
    * languages in the testdata. A tiny embedded profile table is enough for
    * a heuristic language ID — real systems load larger profiles the same
    * way (a broadcast map, not a shuffle).
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", " that "),
    "de" -> Seq(" der ", " und ", " die ", " ist ", " das ", " nicht "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des ", " est "),
    "es" -> Seq(" el ", " de la ", " los ", " que ", " es ", " una "),
    "it" -> Seq(" il ", " di ", " che ", " la ", " per ", " una "),
    "pt" -> Seq(" o ", " de ", " que ", " do ", " da ", " uma "),
    "nl" -> Seq(" de ", " het ", " een ", " van ", " en ", " niet ")
  )

  /** Heuristic language ID in one union regex scan plus one scan per
    * MULTI-word marker (today only the Spanish "de la": two scans per
    * row), instead of one per language: every SINGLE-word marker goes into
    * one union-alternation `regexp_extract_all` (single words are
    * \b-delimited, so the union scan counts exactly what per-language scans
    * would), and each multi-word marker keeps its own `regexp_count` —
    * folding them into the union would let e.g. the Spanish "de la"
    * swallow the French "la" in the non-overlapping scan and flip
    * predictions. Per-language scoring is then membership counting over
    * the tiny hit array, not the document — the one-regex-per-language
    * version this replaced cost 7 full text scans per row and dominated the
    * t_analysis bench line.
    *
    * The lowered text and the hit array are each bound once per row
    * ([[Cols.bindOnce]]): the seven per-language `filter(hits, …)` calls
    * are interpreted higher-order functions, and whole-stage codegen
    * cannot share a subexpression with them, so as plain subtrees every
    * one of them re-ran `lower` and the union scan: [[analyze]] over 1,000
    * generated documents took 1.74 s before the binding and 0.73 s after
    * (medians of 10 runs each, 4-core x86 host).
    */
  def langId(text: Column): Column = {
    val trimmed = langMarkers.map { case (l, ms) => l -> ms.map(_.trim.replaceAll("\\s+", " ")) }
    val single = trimmed.flatMap(_._2).distinct.filterNot(_.contains(' '))
    val unionPat = "\\b(" + single.mkString("|") + ")\\b"
    Cols.bindOnce(lower(text)) { lowered =>
      Cols.bindOnce(regexp_extract_all(lowered, lit(unionPat), lit(1))) { hits =>
        val scores: Seq[(String, Column)] = trimmed.map { case (lang, markers) =>
          val (multi, sing) = markers.partition(_.contains(' '))
          val singleScore = size(filter(hits, h => h.isin(sing: _*)))
          val score = multi.foldLeft(singleScore) { (acc, m) =>
            acc + regexp_count(lowered, lit("\\b(" + m.replaceAll("\\s+", "\\\\s+") + ")\\b"))
          }
          lang -> score
        }
        val structs = array(scores.map { case (l, s) => struct(s.as("score"), lit(l).as("lang")) }: _*)
        val best = array_max(structs)
        when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
      }
    }
  }

  /** Deterministic 64-bit document fingerprint (content hash over
    * whitespace-normalized lowercase text) — the exact-dedup key. The
    * fused codegen expression is bit-identical to the composed
    * `xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))` (fenced
    * in TextStatsSuite) without the regex NFA and the three
    * intermediate strings per row.
    */
  def fingerprint(text: Column): Column =
    graft.functions.NormFingerprintExpr.normFingerprint(text)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every char
    * k-gram of the normalized text (O(k) per position here — xxhash64 of the
    * k-char substring; a true rolling hash would be O(1)/position but needs
    * a custom Expression), then keep the MINIMUM hash of every sliding
    * window of `window` consecutive k-grams, distinct. Guarantees: any
    * shared substring of length >= k + window - 1 yields at least one shared
    * fingerprint — the standard near-dup/plagiarism fingerprint set, orders
    * of magnitude smaller than the k-gram set. Text shorter than k yields an
    * EMPTY set (never a padded pseudo-gram). Per-row narrow computation (no
    * shuffle); pairs are then matched by exploding the (small) fingerprint
    * sets and joining on the fingerprint.
    */
  def winnowFingerprints(text: Column, k: Int = 8, window: Int = 4): Column =
    // fused one-pass expression — bit-identical values AND order to
    // the composed transform formulation (fenced in TextStatsSuite) without
    // the per-position substr/hash through interpreted transforms
    graft.functions.WinnowFpExpr.winnowFp(text, k, window)

  /** Winnowing with a cross-engine-replayable polynomial gram hash instead
    * of xxhash64: hash(g) = fold(acc * 31 + codepoint) mod P over the k
    * characters, P = 9007199254740881 (prime < 2^53, so `acc * 31 + c`
    * never overflows BIGINT in engines that error on overflow rather than
    * wrap). Char codes are materialized once and grams hash a slice —
    * O(n·k) per document like the xxhash64 path. Exists so the winnowing
    * ALGORITHM (gram windows, min selection, distinct) is oracle-checkable
    * exactly; production dedup keeps xxhash64 (cheaper, better mixing).
    */
  def winnowFingerprintsPoly(text: Column, k: Int = 8, window: Int = 4): Column =
    // fused one-pass twin — bit-identical values AND order to
    // the composed slice-fold formulation (fenced in TextStatsSuite); the
    // composed formulation's per-position slice-fold cost ~190 s on the
    // 100x corpus where the fused pass costs seconds
    graft.functions.WinnowPolyFpExpr.winnowPolyFp(text, k, window)

  /** Shared winnowing tail: min hash of each sliding window of `window`
    * consecutive gram hashes, distinct; text shorter than k yields an
    * EMPTY set (never a padded pseudo-gram).
    */
  private[graft] def winnowFromGrams(norm: Column, grams: Column, k: Int, window: Int): Column =
    Cols.bindOnce(grams) { gs =>
      when(length(norm) < k, array().cast("array<bigint>")).otherwise(
        array_distinct(transform(
          sequence(lit(0), greatest(size(gs) - window, lit(0))),
          w => array_min(slice(gs, w + 1, lit(window))))))
    }

  /** PII redaction: emails, SSN-shaped ids, phone-shaped numbers and IPv4
    * addresses replaced with typed placeholders — the standard scrub pass
    * before text enters a training corpus. Pure per-row `regexp_replace`
    * chain: narrow, codegen'd, scan-speed at 100 TB. Patterns are
    * RE2-compatible (no lookaround/backrefs) so any engine can replay them
    * — the driver's DuckDB oracle runs the identical chain. Order matters:
    * SSN (3-2-4) is consumed before the phone pass so the looser phone
    * shape cannot eat it.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val phone = "\\b\\d{3}[ .-]\\d{3}[ .-]\\d{4}\\b"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      email, "<EMAIL>"), ssn, "<SSN>"), phone, "<PHONE>"), ip, "<IP>")
  }

  /** Pre-tokenization text cleanup — the normalization pass a crawl corpus
    * runs before any fingerprinting or filtering: strip ASCII control
    * characters (keeping tab/newline), strip zero-width code points
    * (ZWSP/ZWNJ/ZWJ/BOM), collapse horizontal-whitespace runs to one
    * space, collapse 3+ newlines to a paragraph break, trim. All four
    * passes are RE2-safe character-class replaces, so the driver's DuckDB
    * oracle runs the identical chain; narrow and codegen'd, scan-speed at
    * any scale. Control chars are stripped first so the spaces they
    * separated collapse as one run; newline collapse runs last.
    */
  def cleanText(text: Column): Column = {
    val ctrl = "[\\x00-\\x08\\x0B-\\x1F\\x7F]"
    val zerowidth = "[\\x{200B}-\\x{200D}\\x{FEFF}]"
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      ctrl, ""), zerowidth, ""), "[ \\t]+", " "), "\\n{3,}", "\n\n"))
  }

  /** Repetition-based quality signals (the Gopher-rule family): per doc,
    * the duplicate-token fraction, the top-token mass fraction, and the
    * fraction of suspiciously long tokens. High values flag boilerplate,
    * keyword stuffing and binary-ish junk.
    *
    * Computed RELATIONALLY (explode -> per-(doc,token) partial counts ->
    * per-doc aggregate) rather than with per-row O(n·d) HOFs: one token
    * shuffle with map-side combine, the shape that holds at 100 TB.
    */
  def repetitionSignals(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", longLen: Int = 15): DataFrame =
    df.select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(sum("n").as("n_tokens"),
        round(lit(1.0) - count(lit(1)) / sum("n"), 6).as("dup_frac"),
        round(max("n") / sum("n"), 6).as("top_frac"),
        round(coalesce(sum(when(length(col("tok")) > longLen, col("n"))), lit(0L)) / sum("n"), 6)
          .as("long_frac"))

  /** Character trigrams of the whitespace-normalized lowercase text —
    * positions 1..len-2, duplicates kept (counts matter for the LM-style
    * scoring below). Bound once per row via [[Cols.bindOnce]].
    */
  def charTrigrams(text: Column): Column =
    Cols.bindOnce(lower(regexp_replace(trim(text), "\\s+", " "))) { norm =>
      // explicit <3-char guard: sequence(1, len-2) would run DESCENDING
      // for len < 3 (Spark sequences step -1 when stop < start)
      when(length(norm) >= 3,
        transform(sequence(lit(1), length(norm) - 2), i => norm.substr(i, lit(3))))
        .otherwise(array().cast("array<string>"))
    }

  /** Character-trigram familiarity scoring — the integer-exact cousin of
    * KenLM perplexity filtering (CCNet-style): score each document by how
    * well its character trigrams are covered by a trusted reference slice
    * of the corpus. Returns per doc:
    *   n_tri    — trigram positions in the doc,
    *   n_known  — positions whose trigram occurs in the reference,
    *   fam      — sum over positions of min(referenceCount, cap).
    * Low n_known/n_tri or fam/n_tri flags gibberish, wrong-language and
    * binary-ish text. All-integer on purpose: a log-prob LM score differs
    * across engines in the last ulp of `ln`, so it could never be
    * hash-gated; capped-count familiarity ranks documents the same way
    * and replays exactly.
    *
    * Scale shape: the reference model is a trigram->count table bounded by
    * the charset-cubed universe (tiny vs the corpus), built with one
    * map-side-combined shuffle and BROADCAST into the scoring join; the
    * scoring side is explode -> broadcast-join -> per-doc re-aggregation,
    * so the corpus is scanned once and never shuffled by trigram.
    */
  def trigramFamiliarity(docs: DataFrame, reference: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         cap: Int = 100): DataFrame = {
    val refCounts = reference
      .select(explode(charTrigrams(col(textCol))).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("rc"))
    val scored = docs
      .select(col(idCol), explode(charTrigrams(col(textCol))).as("tri"))
      .join(broadcast(refCounts), Seq("tri"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"),
        coalesce(sum(when(col("rc").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_known"),
        coalesce(sum(least(coalesce(col("rc"), lit(0L)), lit(cap.toLong))), lit(0L)).as("fam"))
    // short docs (< 3 chars) have no trigram rows — keep them with zeros
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("fam"), lit(0L)).as("fam"))
  }

  /** Convenience: attach all analysis columns to a documents frame. The
    * fused stats struct is projected ONCE under a hidden alias and the
    * seven quality columns are field reads off it — CollapseProject keeps
    * the two projections separate (the alias is non-cheap and multiply
    * referenced), so the document is scanned exactly once.
    */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val withStats = df.withColumn("__ts", graft.functions.TextStatsExpr.textStats(t))
    val withQuality = qualityColumnsFrom(col("__ts")).foldLeft(withStats) {
      case (d, (name, c)) => d.withColumn(name, c)
    }.drop("__ts")
    withQuality
      .withColumn("quality_score", qualityScoreFrom(col("n_tokens"), col("punct_ratio"),
        col("digit_ratio"), col("mean_word_len"), col("stopword_ratio")))
      .withColumn("lang_pred", langId(t))
      .withColumn("doc_fingerprint", fingerprint(t))
  }
}
