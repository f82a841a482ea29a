package graft

import graft.ops.Bpe

class BpeSuite extends SparkSpec {
  import spark.implicits._

  test("mergeOnce: greedy left-to-right, non-overlapping") {
    assert(Bpe.mergeOnce(Seq("x", "x", "x", "x"), "x", "x") == Seq("xx", "xx"))
    assert(Bpe.mergeOnce(Seq("x", "x", "x"), "x", "x") == Seq("xx", "x"))
    assert(Bpe.mergeOnce(Seq("a", "x", "x", "b"), "x", "x") == Seq("a", "xx", "b"))
    assert(Bpe.mergeOnce(Seq("a", "b"), "x", "x") == Seq("a", "b"))
    assert(Bpe.mergeOnce(Seq("a"), "a", "a") == Seq("a"))
  }

  test("learnMerges: hand-built corpus replays classic BPE and stops when dry") {
    // words: aa (x2), ab (x1) -> merge1 (a,a,2); then ab -> merge2 (a,b,1);
    // then nothing left to merge even though nMerges = 5
    val docs = Seq("aa aa ab").toDF("text")
    val got = Bpe.learnMerges(docs, nMerges = 5)
      .orderBy("step")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", "a", 2L), (2L, "a", "b", 1L)))
  }

  test("learned merges feed the subword tokenizer: pieces reconstruct text") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.learnMerges(d, nMerges = 10).collect()
    // vocab = merged tokens + the single-char base alphabet (as in a real
    // BPE vocab: every base symbol is a piece, merges add multi-char ones)
    val merged = merges.map(r => r.getString(1) + r.getString(2)).toSeq
    assert(merged.nonEmpty && merged.forall(_.length >= 2))
    val chars = d.limit(50)
      .select(explode(split(lower(trim(col("text"))), "")).as("c"))
      .filter(col("c") =!= "" && !col("c").rlike("\\s"))
      .distinct().collect().map(_.getString(0)).toSeq
    val vocab = merged ++ chars
    val pieces = d.limit(50).select(col("doc_id"),
        graft.functions.SubwordExpr.subwordPieces(lower(trim(col("text"))), vocab).as("p"),
        lower(trim(col("text"))).as("orig"))
      .select(col("doc_id"), concat_ws("", col("p")).as("joined"), col("orig"),
        exists(col("p"), x => length(x) >= 2).as("used_merge"))
      .collect()
    // max-munch over the learned vocab must reconstruct the input exactly
    // (pieces partition the text) and actually use the learned merges
    pieces.foreach { r =>
      assert(r.getString(1).replaceAll("\\s+", "") ==
        r.getString(2).replaceAll("\\s+", ""), s"doc ${r.getLong(0)} not reconstructed")
    }
    assert(pieces.exists(_.getBoolean(3)), "no learned merge was ever used")
  }

  test("local merge rounds are cell-identical to the distributed rounds") {
    // r13 fence: learnMerges defaults to driver-side rounds over the
    // collected capped vocabulary; the broadcast threshold off forces the
    // distributed path. Same corpus, both paths, every cell equal.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(): Seq[(Long, String, String, Long)] =
      Bpe.learnMerges(d, nMerges = 10).orderBy("step")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val local = run()
    val distributed = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(local == distributed, "driver-side BPE rounds diverge from distributed rounds")
  }

  test("local rounds: ties and supplementary codepoints break identically") {
    // pair counts engineered to tie; tokens include a supplementary
    // codepoint (U+1F600, 4 UTF-8 bytes) vs U+FFFD (3 bytes) so a UTF-16
    // code-unit comparator would order them differently than UTF-8 bytes
    val docs = Seq("😀z �z qa qa", "😀z �z").toDF("text")
    def run(): Seq[(Long, String, String, Long)] =
      Bpe.learnMerges(docs, nMerges = 3).orderBy("step")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val local = run()
    val distributed = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(local == distributed,
      s"tie/codepoint divergence: local=$local distributed=$distributed")
  }

  test("learnMerges: deterministic tie-break and partition invariance") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      Bpe.learnMerges(d.repartition(parts), nMerges = 4).orderBy("step")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(run(1) == run(7))
  }
}
