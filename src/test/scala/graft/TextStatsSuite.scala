package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextStatsExpr
import graft.ops.{Cols, TextAnalysis}

/** Property fence for the fused `text_stats` expression: every field must
  * be BIT-IDENTICAL to the original Spark SQL formulation it replaced
  * (three translate passes, regex token split, regex stopword count) —
  * on the real documents table AND on adversarial/random strings. The
  * driver's DuckDB oracle checks the same semantics cross-engine; this
  * suite checks them cross-formulation inside Spark, so a drift in the
  * hand-rolled scan can never reach the oracle gate silently.
  */
class TextStatsSuite extends SparkSpec {

  private val stopwordRe =
    "\\b(the|a|of|and|to|in|is|that|it|for)\\b"
  private val punctSet = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"

  /** The pre-fusion reference formulation, kept verbatim. */
  private def referenceCols(df: DataFrame): DataFrame = {
    val text = col("text")
    def removedCount(chars: String) =
      (length(text) - length(translate(text, chars, ""))).cast("int")
    df.select(
      length(text).as("r_n_chars"),
      removedCount(punctSet).as("r_n_punct"),
      removedCount("0123456789").as("r_n_digit"),
      removedCount("ABCDEFGHIJKLMNOPQRSTUVWXYZ").as("r_n_upper"),
      size(split(trim(text), "\\s+")).as("r_n_tokens"),
      regexp_count(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"))
        .as("r_n_subwords"),
      regexp_count(lower(text), lit(stopwordRe)).as("r_stop_hits"))
  }

  private def fusedCols(df: DataFrame): DataFrame =
    df.select(TextStatsExpr.textStats(col("text")).as("ts"))
      .select(col("ts.n_chars"), col("ts.n_punct"), col("ts.n_digit"),
        col("ts.n_upper"), col("ts.n_tokens"), col("ts.n_subwords"),
        col("ts.stop_hits"))

  /** Compare fused vs the java.util.regex reference. stop_hits is only
    * comparable on all-ASCII rows: Java's \b is unicode-aware (JDK's \b /
    * \w inconsistency) while RE2 — and therefore the DuckDB oracle — uses
    * ASCII word chars. The fused scan implements the RE2/DuckDB semantics
    * (see the divergence test below), so on rows with non-ASCII characters
    * the old java-regex formulation is the one that disagrees with the
    * oracle, not the fused scan.
    */
  private def assertSame(df: DataFrame): Unit = {
    val texts = df.collect().map(_.getString(0))
    val ref = referenceCols(df).collect().map(_.toSeq)
    val fused = fusedCols(df).collect().map(_.toSeq)
    assert(ref.length == fused.length)
    var i = 0
    while (i < ref.length) {
      val allAscii = texts(i) != null && texts(i).forall(_ < 128)
      val (r, f) =
        if (allAscii) (ref(i), fused(i))
        else (ref(i).init, fused(i).init) // drop stop_hits on unicode rows
      if (r != f) {
        val esc = String.valueOf(texts(i)).flatMap {
          case c if c >= ' ' && c < 127 => c.toString
          case c => f"\\u${c.toInt}%04x"
        }
        fail(s"row $i: reference=$r fused=$f text=[$esc]")
      }
      i += 1
    }
  }

  test("fused stats match reference formulation on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
    assertSame(docs)
  }

  test("fused stats match reference on adversarial literals") {
    import spark.implicits._
    val cases = Seq(
      "", " ", "   ", "\t", "\tleading tab", "trailing tab\t",
      "a", "the", "that", "theology and theatre", "a_b the_c in1 of",
      "IN THE END", "The Quick BROWN fox; it is... that, of course!",
      "multi  spaces\tand\ttabs\nnewlines\r\nandvt\fff",
      "digits 123-45 6789 mixed a1b2c3_",
      "punct only !!! ??? ### @@@ ~~~ `` [] {} \\ ^ _",
      "unicode café Über straße İstanbul naïve",
      "emoji 😀 pair 🎉 done",
      "for for for for", "is-is is_is is.is", "(a) [the] {of}",
      " \t mixed edge \t ", "ends with stopword the"
    )
    assertSame(cases.toDF("text"))
  }

  test("fused stats match reference on 300 random strings") {
    import spark.implicits._
    val alphabet = Gen.frequency(
      8 -> Gen.alphaLowerChar, 2 -> Gen.alphaUpperChar, 2 -> Gen.numChar,
      4 -> Gen.const(' '), 1 -> Gen.const('\t'), 1 -> Gen.const('\n'),
      1 -> Gen.oneOf(punctSet.toSeq), 1 -> Gen.oneOf('é', 'ß', 'Ж', '中'),
      1 -> Gen.oneOf("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
        .map(_.head))
    val gen = Gen.chooseNum(0, 120).flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString))
    val strings = (0 until 300).flatMap { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).toSeq
    } ++ (0 until 50).map { i =>
      // stopword-dense strings: join real words with varied separators
      val words = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
        "for", "they", "andy", "tot", "ina", "xx")
      (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
        .mkString(Seq(" ", "  ", ", ", ".", "\t")((i + 1) % 5))
    }
    assertSame(strings.toDF("text"))
  }

  test("stop_hits follows RE2/DuckDB \\b semantics on unicode-adjacent stopwords") {
    import spark.implicits._
    // '中' is a word char for java.util.regex's unicode-aware \b (so the
    // old regexp_count saw NO boundary and counted 0) but a non-word char
    // for RE2/DuckDB's ASCII \b (boundary -> 'a' is a match). The fused
    // scan must agree with the ORACLE's semantics: 1.
    val df = Seq("u中a j").toDF("text")
    val fusedHits = fusedCols(df).select("stop_hits").head().getInt(0)
    assert(fusedHits == 1)
    val javaHits = df.select(
      regexp_count(lower(col("text")), lit(stopwordRe))).head().getInt(0)
    assert(javaHits == 0) // documents the JDK divergence this fence tolerates
  }

  test("analyze() output is unchanged by the fusion and scans text once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val analyzed = TextAnalysis.analyze(docs)
      .select("doc_id", "n_tokens", "punct_ratio", "digit_ratio",
        "upper_ratio", "mean_word_len", "stopword_ratio", "quality_score")
      .orderBy("doc_id")
    // golden: quality columns derived from the reference formulation
    val text = col("text")
    def removedCount(chars: String) =
      (length(text) - length(translate(text, chars, ""))).cast("double")
    val len = length(text).cast("double")
    val safeLen = greatest(len, lit(1.0))
    val words = size(split(trim(text), "\\s+")).cast("double")
    val golden = docs.select(
      col("doc_id"),
      words.as("n_tokens"),
      (removedCount(punctSet) / safeLen).as("punct_ratio"),
      (removedCount("0123456789") / safeLen).as("digit_ratio"),
      (removedCount("ABCDEFGHIJKLMNOPQRSTUVWXYZ") / safeLen).as("upper_ratio"),
      (len / greatest(words, lit(1.0))).as("mean_word_len"),
      (regexp_count(lower(text), lit(stopwordRe)).cast("double") /
        greatest(words, lit(1.0))).as("stopword_ratio"))
      .withColumn("quality_score", TextAnalysis.qualityScoreFrom(
        col("n_tokens"), col("punct_ratio"), col("digit_ratio"),
        col("mean_word_len"), col("stopword_ratio")))
      .orderBy("doc_id")
    assert(rows(analyzed) == rows(golden))
    // one text_stats call survives in the optimized plan (single scan)
    val optimized = analyzed.queryExecution.optimizedPlan.toString
    val calls = "text_stats".r.findAllIn(optimized).length
    assert(calls >= 1, s"fused expression missing from plan:\n$optimized")
    val projects = optimized.linesIterator.count(_.trim.startsWith("Project"))
    assert(projects <= 3, s"unexpected project explosion:\n$optimized")
  }

  // The composed formulations the fused text kernels replaced, kept as the
  // equivalence fences' references.

  private def fingerprintComposed(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))

  private def winnowFingerprintsComposed(text: Column, k: Int = 8, window: Int = 4): Column =
    // normalized text and gram-hash array each bound via Cols.bindOnce —
    // as plain subtrees the normalization would re-run per gram and the
    // gram array per window position (O(positions^2 x length) per row,
    // measured ~1 s/doc on 300-char docs)
    Cols.bindOnce(lower(regexp_replace(trim(text), "\\s+", " "))) { norm =>
      // k-gram hashes at positions 1..n-k+1
      val grams = transform(
        sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
        i => xxhash64(norm.substr(i, lit(k))))
      TextAnalysis.winnowFromGrams(norm, grams, k, window)
    }

  private def winnowFingerprintsPolyComposed(text: Column, k: Int = 8, window: Int = 4): Column = {
    val P = 9007199254740881L
    Cols.bindOnce(lower(regexp_replace(trim(text), "\\s+", " "))) { norm =>
      Cols.bindOnce(transform(
        sequence(lit(1), greatest(length(norm), lit(1))),
        i => ascii(norm.substr(i, lit(1))).cast("long"))) { codes =>
        val grams = transform(
          sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
          i => aggregate(slice(codes, i, lit(k)), lit(0L),
            (acc, c) => (acc * 31L + c) % P))
        TextAnalysis.winnowFromGrams(norm, grams, k, window)
      }
    }
  }

  test("norm_fingerprint: bit-identical to the composed xxhash64 formulation") {
    import spark.implicits._
    // adversarial strings: ws runs,control chars, unicode case, surrogates,
    // empty, only-whitespace, leading/trailing mixes
    val advers = Seq(
      "", " ", "\t\n", "  a  B\tc\u000Bd  ", "\u00C9t\u00E9  \u0130stanbul",
      "already normalized", "Tabs\tand\nnewlines\r\f", "  lead", "trail  ",
      "\uD83D\uDE00  EMOJI \uD83D\uDE00", "a b", "A  B", "\u000B", "x",
      "mixed \t CASE \n text")
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text")
    val out = df.select(
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fused"),
      fingerprintComposed(col("text")).as("composed")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1), s"row $i: fused=${r.getLong(0)} composed=${r.getLong(1)}")
    }
  }

  test("winnow_fp: bit-identical (values and order) to the composed winnowing formulation") {
    import spark.implicits._
    val advers = Seq("", "short", "exactly8", "exactly8x", " lead and trail ",
      "Tabs\tin\tthe\tmiddle of a longer text to winnow over",
      "\uD83D\uDE00 emoji \uD83D\uDE00 with astral code points spread through the text",
      "\u00C9t\u00E9 \u0130stanbul m\u00FCnchen stra\u00DFe repeated \u00C9t\u00E9 \u0130stanbul",
      ("repeat me " * 30).trim)
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    val out = df.select(
      graft.ops.TextAnalysis.winnowFingerprints(col("text")).as("fused"),
      winnowFingerprintsComposed(col("text")).as("ref")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"row $i: fused=${r.getSeq[Long](0).take(4)} ref=${r.getSeq[Long](1).take(4)}")
    }
  }

  test("winnow_poly_fp: bit-identical (values and order) to the composed poly formulation") {
    import spark.implicits._
    val advers = Seq("", "short", "exactly8", "exactly8x", " lead and trail ",
      "Tabs\tin\tthe\tmiddle of a longer text to winnow over",
      "😀 emoji 😀 with astral code points spread through the text",
      "Été İstanbul münchen straße repeated Été İstanbul",
      ("repeat me " * 30).trim)
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    val out = df.select(
      graft.ops.TextAnalysis.winnowFingerprintsPoly(col("text")).as("fused"),
      winnowFingerprintsPolyComposed(col("text")).as("ref")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"row $i: fused=${r.getSeq[Long](0).take(4)} ref=${r.getSeq[Long](1).take(4)}")
    }
  }
}
