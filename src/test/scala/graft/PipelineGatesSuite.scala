package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}

/** Ground-truth gates for the approximate pipeline operators: each
  * LSH/IVF/sketch path is measured against an exact, independently computed
  * reference on the real sf0.01 testdata, with hard recall/precision floors.
  * (The driver's DuckDB oracle covers the exact-mode twins; these gates cover
  * the approximate modes the oracle cannot express.)
  */
class PipelineGatesSuite extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .withColumn("embedding", col("embedding").cast("array<double>"))

  /** Exact all-pairs word-3-shingle Jaccard (independent brute force — a
    * crossJoin, deliberately NOT the LSH candidate path under test).
    */
  private lazy val exactJaccard: Map[(Long, Long), Double] = {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
    val a = sh.select(col("doc_id").as("ida"), col("s").as("sa"))
    val b = sh.select(col("doc_id").as("idb"), col("s").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val uni = size(array_union(col("sa"), col("sb"))).cast("double")
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("j", inter / uni)
      .filter(col("j") >= 0.5)
      .select("ida", "idb", "j")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(df.columns(0), df.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH at 0.7 returns exactly the exact-Jaccard>=0.7 pairs") {
    val planted = exactJaccard.filter(_._2 >= 0.7).keySet
    info(s"exact pairs >= 0.7: ${planted.size}")
    val got = pairSet(Dedup.minhashNearDuplicates(docs, threshold = 0.7, bands = 8, rows = 4))
    assert(got == planted,
      s"missed=${(planted -- got).take(5)} spurious=${(got -- planted).take(5)}")
  }

  test("simhash near-dups: full precision, recall >= 0.8 on planted pairs") {
    val planted = exactJaccard.filter(_._2 >= 0.9).keySet
    val got = pairSet(Dedup.simhashNearDuplicates(docs, maxHamming = 12))
    val spurious = got -- exactJaccard.keySet // anything below jaccard 0.5 is a false positive
    val recall = (got & planted).size.toDouble / planted.size
    info(s"simhash pairs=${got.size}, planted=${planted.size}, recall=$recall")
    assert(spurious.isEmpty, s"false positives: ${spurious.take(5)}")
    assert(recall >= 0.8, s"recall $recall < 0.8")
  }

  test("wide-band simhash == brute-force 126-bit hamming join") {
    // pigeonhole completeness at maxHamming = 3 with 4 x 31/32-bit bands:
    // the banded+capped output must EQUAL the exact all-pairs hamming join
    // over the combined two-signature distance
    val salt = 0x9E3779B97F4A7C15L
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHashExpr.simhash64(col("text"), 2).as("sa"),
      graft.functions.SimHashExpr.simhash64Salted(col("text"), 2, salt).as("sb"))
    val a = sigs.select(col("doc_id").as("ida"), col("sa").as("saa"), col("sb").as("sba"))
    val b = sigs.select(col("doc_id").as("idb"), col("sa").as("sab"), col("sb").as("sbb"))
    val exact = a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("h", bit_count(col("saa").bitwiseXOR(col("sab"))) +
        bit_count(col("sba").bitwiseXOR(col("sbb"))))
      .filter(col("h") <= 3)
      .select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet(Dedup.simhashNearDuplicatesWide(docs, maxHamming = 3))
    info(s"wide-band exact pairs=${exact.size}")
    assert(exact.nonEmpty, "fixture must plant at least one 126-bit near-dup")
    assert(got == exact,
      s"missed=${(exact -- got).take(5)} spurious=${(got -- exact).take(5)}")
    // partition invariance
    val got7 = pairSet(Dedup.simhashNearDuplicatesWide(docs.repartition(7), maxHamming = 3))
    assert(got7 == got, "result must not depend on input partitioning")
  }

  test("simhash auto-switch: default path hands off to wide banding past wideFromDocs") {
    // round-10 gate (verdict task 4): the DEFAULT entry point must select
    // the wide path once the bounded probe crosses the threshold — pinned
    // here with a tiny threshold instead of the production 1M. The handoff
    // RESCALES the caller's 64-bit threshold to the wide path's 126-bit
    // hamming scale: ceil(3 * 126 / 64) = 6 (r10 ADVICE — an unchanged
    // pass-through silently tightened the threshold's meaning).
    // A broadcast threshold of 16 bytes keeps every call on its
    // distributed path with the probe: it admits one 16-byte capped key
    // (these calls cap none) but no signature read, whose size estimate
    // exceeds it, so the limit+count probe decides the handoff
    def probed(f: => org.apache.spark.sql.DataFrame) = {
      val out = withConf("spark.sql.autoBroadcastJoinThreshold", "16")(f)
      assert(out.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      pairSet(out)
    }
    val wide = probed(Dedup.simhashNearDuplicatesWide(docs, maxHamming = 6))
    val auto = probed(Dedup.simhashNearDuplicates(docs, maxHamming = 3, wideFromDocs = 10))
    assert(auto == wide, "above the threshold the default must equal the wide path at the rescaled threshold")
    // below the threshold (and with wideFromDocs = 0) the 16-bit path is pinned
    val narrow = probed(Dedup.simhashNearDuplicates(docs, maxHamming = 3, wideFromDocs = 0))
    val under = probed(Dedup.simhashNearDuplicates(docs, maxHamming = 3,
      wideFromDocs = 1000000))
    assert(under == narrow, "below the threshold the default must stay 16-bit")
  }

  test("salted signature is an independent family, not a copy") {
    val salt = 0x9E3779B97F4A7C15L
    val differing = docs.select(
      (graft.functions.SimHashExpr.simhash64(col("text"), 2) =!=
        graft.functions.SimHashExpr.simhash64Salted(col("text"), 2, salt)).as("d"))
      .filter(col("d")).count()
    assert(differing >= docs.count() * 9 / 10,
      s"salted signatures should differ for nearly all docs, differing=$differing")
  }

  test("embedding near-dup exact mode == independent brute force") {
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("c", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("c") >= 0.3)
      .select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet(Dedup.embeddingNearDuplicates(emb, minCosine = 0.3, planes = 0,
      maxBucket = 1000000))
    info(s"exact pairs=${exact.size}")
    assert(got == exact)
  }

  test("embedding near-dup LSH mode is a subset of exact") {
    val exact = pairSet(Dedup.embeddingNearDuplicates(emb, minCosine = 0.3, planes = 0,
      maxBucket = 1000000))
    val lsh = pairSet(Dedup.embeddingNearDuplicates(emb, minCosine = 0.3, planes = 4))
    info(s"lsh=${lsh.size} of exact=${exact.size}")
    assert((lsh -- exact).isEmpty, s"LSH produced non-pairs: ${(lsh -- exact).take(5)}")
    assert(lsh.nonEmpty)
  }

  private def knnPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val knnQueries = emb.filter(col("vec_id") < 20)
  private lazy val knnTruth = knnPairs(Similarity.bruteForceTopK(emb, knnQueries, k = 5))

  // the testdata embeddings are uniformly random — the ANN worst case (no
  // cluster structure, top-5 neighbors sit at cosine ~0.4). Measured grid
  // (tools/ProbeRecall): planes=4/tables=4 -> 0.94, planes=3/tables=6 -> 1.0;
  // IVF nProbe 3/8 -> 0.72, 5/8 -> 0.94. Gates sit at >= 0.9 on deterministic
  // seeds, so any regression in the bucketing/probing machinery trips them.
  // The grid: `git show bbeb2bc:src/main/scala/graft/tools/ProbeRecall.scala`
  test("LSH kNN recall@5 >= 0.9 vs brute force (planes=4, tables=4)") {
    val got = knnPairs(Similarity.lshTopK(emb, knnQueries, k = 5, planes = 4, tables = 4))
    val recall = (got & knnTruth).size.toDouble / knnTruth.size
    info(s"LSH recall@5 = $recall")
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("IVF kNN recall@5 >= 0.9 vs brute force (nProbe=5 of 8 cells)") {
    val got = knnPairs(Similarity.ivfTopK(emb, knnQueries, k = 5, nCells = 8, nProbe = 5))
    val recall = (got & knnTruth).size.toDouble / knnTruth.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("IVF full probe (nProbe = nCells) is row-identical to brute force") {
    // backs the s_ivf_exact driver entry: full probe must reproduce brute
    // force exactly — same neighbors, same cosines, same rank tie-breaks
    def allRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val ivf = allRows(Similarity.ivfTopK(emb, knnQueries, k = 5, nCells = 8, nProbe = 8))
    val bf = allRows(Similarity.bruteForceTopK(emb, knnQueries, k = 5))
    assert(ivf == bf)
  }

  test("winnowing fingerprints: planted near-dups overlap, random pairs do not") {
    // k=16: the synthetic corpus has a tiny vocabulary, so short grams
    // collide across unrelated docs; 16-char grams separate cleanly
    val fps = docs.select(col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text"), k = 16).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Long, b: Long): Double =
      (fps(a) & fps(b)).size.toDouble / math.max(1, math.min(fps(a).size, fps(b).size))
    val planted = exactJaccard.filter(_._2 >= 0.9).keySet
    val plantedOverlap = planted.toSeq.map { case (a, b) => overlap(a, b) }
    info(s"planted mean overlap = ${plantedOverlap.sum / plantedOverlap.size}")
    assert(plantedOverlap.forall(_ >= 0.5),
      s"planted pair with low fingerprint overlap: ${plantedOverlap.min}")
    // random (non-near-dup) pairs share (almost) nothing
    val ids = fps.keys.toSeq.sorted.take(40)
    val randomPairs = for (a <- ids; b <- ids if a < b && !planted((a, b))) yield overlap(a, b)
    info(s"random mean overlap = ${randomPairs.sum / randomPairs.size}")
    assert(randomPairs.sum / randomPairs.size <= 0.05)
  }

  // Converse precision fence for the winnowing guarantee: the guarantee
  // (shared substring >= k+window-1 => shared fingerprint) is gated above
  // on planted near-dups; here, documents built from DISJOINT alphabets
  // share no k-gram at all, so they must share exactly ZERO fingerprints
  // (anything else would be an xxhash64 collision at ~2^-64).
  test("winnowing fingerprints: disjoint-alphabet docs share zero fingerprints") {
    import spark.implicits._
    def doc(alphabet: String, words: Int): String =
      (0 until words).map(i => alphabet * (2 + i % 3)).mkString(" ")
    val disjoint = Seq(
      (1L, doc("abcd", 60)), (2L, doc("efgh", 60)),
      (3L, doc("ijkl", 60)), (4L, doc("mnop", 60))).toDF("doc_id", "text")
    val fps = disjoint.select(col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text"), k = 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    for (a <- fps.keys; b <- fps.keys if a < b) {
      assert((fps(a) & fps(b)).isEmpty,
        s"docs $a/$b share ${(fps(a) & fps(b)).size} fingerprints despite disjoint alphabets")
      assert(fps(a).nonEmpty && fps(b).nonEmpty, "empty fingerprint set")
    }
  }

  // the testdata `lang` label is uncorrelated with the text (every doc uses
  // the same synthetic English-ish vocabulary), so accuracy-vs-label is not
  // a meaningful gate — langId is tested on genuine sentences instead
  test("language ID on genuine sentences per supported language") {
    import spark.implicits._
    val samples = Seq(
      ("en", "The results of the experiment showed that the model is accurate and that it generalizes."),
      ("de", "Der Hund lief durch die Stadt und das Kind ist nicht allein geblieben."),
      ("fr", "Le chat est sur la table et les enfants regardent des images dans le jardin."),
      ("es", "Los resultados muestran que es una buena idea y que el modelo funciona."),
      ("it", "Il governo ha detto che la situazione per una parte del paese resta difficile."),
      ("pt", "O presidente disse que uma parte do problema vem da falta de recursos."),
      ("nl", "De kinderen speelden in het park en een hond liep niet ver weg van hen."),
      ("und", "12345 67890 !!!")
    ).toDF("expected", "text")
    val preds = samples.withColumn("pred", TextAnalysis.langId(col("text")))
      .select("expected", "pred").collect()
    val wrong = preds.filter(r => r.getString(0) != r.getString(1))
    assert(wrong.isEmpty, wrong.map(r => s"${r.getString(0)} -> ${r.getString(1)}").mkString(", "))
  }

  test("int8 quantization: reconstruction cosine >= 0.999, top-5 recall >= 0.95") {
    val q = Similarity.quantizeInt8(emb)
    val recon = q.select(col("vec_id"),
      Similarity.dequantize(col("q"), col("scale")).as("embedding"))
    // per-vector reconstruction fidelity
    val minCos = recon.join(emb.select(col("vec_id"), col("embedding").as("__orig")), "vec_id")
      .select(min(Similarity.cosine(col("embedding"), col("__orig"))))
      .head().getDouble(0)
    assert(minCos >= 0.999, s"worst reconstruction cosine $minCos")
    // end-to-end: kNN over dequantized vectors must agree with exact kNN
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.bruteForceTopK(recon, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"quantized recall@5 = $recall")
    info(f"quantized recall@5 = $recall%.2f, worst cosine = $minCos%.5f")
  }

  test("vocabulary: lowercased counts with deterministic tie-break") {
    import spark.implicits._
    val df = Seq("The cat the dog the", "a cat  and a dog", "zebra ant").toDF("text")
    val v = TextAnalysis.vocabulary(df, topN = 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // counts: the=3 (The lowercased), a=2, cat=2, dog=2, and/ant/zebra=1
    assert(v == Seq(("the", 3L), ("a", 2L), ("cat", 2L), ("dog", 2L)), s"got $v")
  }

  // min-label propagation must cross multiple hops: a 4-node chain has
  // diameter 3, so node 40 only learns label 10 transitively
  test("chunkDedup: repeated spans removed, unique tails kept, skew-safe keeper agg") {
    import graft.ops.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),        // both chunks first-seen -> intact
      (2L, "a b c x y z"),        // shares chunk "a b c" with doc 1 -> loses it
      (3L, "a b c d e f"),        // exact copy of doc 1 -> everything dropped
      (4L, "x y z")               // chunk "x y z" already kept in doc 2? NO:
                                  // doc 2's second chunk is "x y z" at pos 1;
                                  // (2,1) < (4,0) -> doc 4 loses it
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, chunkWords = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 2L, 0L, ""),
      (4L, 1L, 0L, "")))
    // keeper selection is an aggregation (partial before exchange), not a
    // window sort — the skew-safe shape for billion-fold boilerplate chunks
    val plan = Dedup.chunkDedup(docs, chunkWords = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected no window in keeper path:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      s"expected partial-aggregated keeper:\n$plan")
  }

  test("simhash first-match candidates equal the dropDuplicates formulation") {
    import graft.ops.Dedup
    import spark.implicits._
    // r14 fence for BOTH simhash banding widths: the pair-unique
    // first-match emission must reproduce self-join + dropDuplicates over
    // all chunk instances, incl. under a tight per-bucket cap
    def ref16(df: org.apache.spark.sql.DataFrame, maxHamming: Int, maxBucket: Int,
              hashFn: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) = {
      val simCol = hashFn match {
        case None => graft.functions.SimHashExpr.simhash64(col("__text"), 2)
        case Some(fn) => Dedup.simhash(col("__text"), hashFn = fn)
      }
      val docs = df.select(col("doc_id"), col("text").as("__text"))
        .withColumn("__sim", simCol)
      val banded = docs.select(col("doc_id"), col("__sim"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("__sim"), c * 16).bitwiseAND(0xFFFFL).as("key"))
        }: _*)).as("__ck"))
        .select(col("doc_id"), col("__sim"), col("__ck.chunk"), col("__ck.key"))
      val sizes = banded.groupBy("chunk", "key").agg(count(lit(1)).as("__bsz"))
      val capped = banded.join(sizes.filter(col("__bsz") <= maxBucket), Seq("chunk", "key"))
      val a = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_id_a"),
        col("__sim").as("__sim_a"))
      val b = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_id_b"),
        col("__sim").as("__sim_b"))
      a.join(b, Seq("chunk", "key"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .dropDuplicates("doc_id_a", "doc_id_b")
        .withColumn("hamming", bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))))
        .filter(col("hamming") <= maxHamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    }
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def cmp16(df: org.apache.spark.sql.DataFrame, maxHamming: Int, maxBucket: Int): Unit = {
      // wideFromDocs = 0 pins the 16-bit path under test
      val got = distributedLsh(df, 16)(Dedup.simhashNearDuplicates(df, maxHamming = maxHamming,
          maxBucket = maxBucket, wideFromDocs = 0))
        .orderBy("doc_id_a", "doc_id_b").collect()
      val want = ref16(df, maxHamming, maxBucket, None)
        .orderBy("doc_id_a", "doc_id_b").collect()
      assert(got.sameElements(want),
        s"16-bit first-match diverges (cap=$maxBucket): got ${got.length}, want ${want.length}")
    }
    cmp16(corpus, 12, 1000)
    cmp16(corpus, 20, 3) // tight cap: survivors-only chunk matching
    // wide path: brute-force gate already exists; here fence the candidate
    // machinery against the dropDuplicates formulation via pair-set counts
    def refWide(df: org.apache.spark.sql.DataFrame, maxHamming: Int, maxBucket: Int) = {
      val salt = 0x9E3779B97F4A7C15L
      val docs = df.select(col("doc_id"), col("text").as("__text"))
        .withColumn("__sa", graft.functions.SimHashExpr.simhash64(col("__text"), 2))
        .withColumn("__sb", graft.functions.SimHashExpr.simhash64Salted(col("__text"), 2, salt))
      val banded = docs.select(col("doc_id"), col("__sa"), col("__sb"),
        explode(array(
          struct(lit(0).as("chunk"), col("__sa").bitwiseAND(0x7FFFFFFFL).as("key")),
          struct(lit(1).as("chunk"), shiftright(col("__sa"), 31).as("key")),
          struct(lit(2).as("chunk"), col("__sb").bitwiseAND(0x7FFFFFFFL).as("key")),
          struct(lit(3).as("chunk"), shiftright(col("__sb"), 31).as("key")))).as("__ck"))
        .select(col("doc_id"), col("__sa"), col("__sb"), col("__ck.chunk"), col("__ck.key"))
      val sizes = banded.groupBy("chunk", "key").agg(count(lit(1)).as("__bsz"))
      val capped = banded.join(sizes.filter(col("__bsz") <= maxBucket), Seq("chunk", "key"))
      val a = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_id_a"),
        col("__sa").as("__sa_a"), col("__sb").as("__sb_a"))
      val b = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_id_b"),
        col("__sa").as("__sa_b"), col("__sb").as("__sb_b"))
      a.join(b, Seq("chunk", "key"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .dropDuplicates("doc_id_a", "doc_id_b")
        .withColumn("hamming",
          (bit_count(col("__sa_a").bitwiseXOR(col("__sa_b"))) +
            bit_count(col("__sb_a").bitwiseXOR(col("__sb_b")))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    }
    def cmpWide(df: org.apache.spark.sql.DataFrame, maxHamming: Int, maxBucket: Int): Unit = {
      val got = distributedLsh(df, 24)(Dedup.simhashNearDuplicatesWide(df, maxHamming = maxHamming,
          maxBucket = maxBucket))
        .orderBy("doc_id_a", "doc_id_b").collect()
      val want = refWide(df, maxHamming, maxBucket)
        .orderBy("doc_id_a", "doc_id_b").collect()
      assert(got.sameElements(want),
        s"wide first-match diverges (cap=$maxBucket): got ${got.length}, want ${want.length}")
    }
    cmpWide(corpus, 3, 1000)
    cmpWide(corpus, 40, 2) // tight cap + loose hamming: more surviving pairs
    // near-dup families so matching chunks actually occur
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val fam = Seq(
      (1L, words), (2L, words + " x"), (3L, words + " y z"),
      (4L, "entirely different content over here with many words now"),
      (5L, "entirely different content over here with many words now"))
      .toDF("doc_id", "text")
    cmp16(fam, 20, 2)
    cmpWide(fam, 40, 2)
  }

  test("minhash first-match candidates equal the dropDuplicates formulation") {
    import graft.ops.Dedup
    import spark.implicits._
    // r14 fence: pair-unique emission at the first surviving shared band
    // must produce EXACTLY the pair set of self-join + dropDuplicates over
    // all instances — incl. under a tight per-bucket cap, where a pair's
    // earliest shared band can be capped away and the pair must still be
    // emitted by its first SURVIVING shared band
    def ref(df: org.apache.spark.sql.DataFrame, threshold: Double,
            bands: Int, rows: Int, maxBucket: Int) = {
      val shingled = df.select(col("doc_id"), col("text").as("__text"))
        .withColumn("__sh", graft.functions.ShingleFpExpr.shingleFp(col("__text"), 3))
        .filter(size(col("__sh")) > 0).select(col("doc_id"), col("__sh"))
      val slim = shingled.select(col("doc_id"),
        posexplode(graft.functions.MinHashBandsExpr.minhashBands(col("__sh"), bands, rows))
          .as(Seq("band", "bucket")))
      val sizes = slim.groupBy("band", "bucket").agg(count(lit(1)).as("__bsz"))
      val bucketed = slim.join(sizes.filter(col("__bsz") <= maxBucket), Seq("band", "bucket"))
      val a = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"))
      val b = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_id_b"))
      a.join(b, Seq("band", "bucket")).filter(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b").dropDuplicates("doc_id_a", "doc_id_b")
        .join(shingled.select(col("doc_id").as("doc_id_a"), col("__sh").as("__sh_a")), "doc_id_a")
        .join(shingled.select(col("doc_id").as("doc_id_b"), col("__sh").as("__sh_b")), "doc_id_b")
        .withColumn("jaccard",
          round(graft.functions.SortedJaccardExpr.sortedJaccard(col("__sh_a"), col("__sh_b")), 6))
        .filter(col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    }
    def cmp(df: org.apache.spark.sql.DataFrame, threshold: Double,
            bands: Int, rows: Int, maxBucket: Int): Unit = {
      val got = distributedLsh(df, 8 * (bands + 2))(Dedup.minhashNearDuplicates(df,
          threshold = threshold, bands = bands, rows = rows, maxBucket = maxBucket))
        .orderBy("doc_id_a", "doc_id_b").collect()
      val want = ref(df, threshold, bands, rows, maxBucket)
        .orderBy("doc_id_a", "doc_id_b").collect()
      assert(got.sameElements(want),
        s"first-match candidates diverge (b=$bands r=$rows cap=$maxBucket): " +
          s"got ${got.length}, want ${want.length}")
    }
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cmp(corpus, 0.7, 8, 4, 1000)
    cmp(corpus, 0.5, 8, 4, 3) // tight cap: survivors-only band matching
    // engineered cap case: X=Y identical; Z1/Z2 near-identical to them, so
    // many (but not all) of X/Y's shared buckets also hold Z1/Z2 and blow
    // the cap of 2 — X-Y must surface via the first band Z1/Z2 miss
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val fam = Seq(
      (1L, words), (2L, words),
      (3L, words.replace("w30", "zz")), (4L, words.replace("w29", "qq")),
      (5L, "completely different text about other things entirely here now"),
      (6L, "completely different text about other things entirely here now"))
      .toDF("doc_id", "text")
    cmp(fam, 0.0, 8, 1, 2)
    cmp(fam, 0.0, 8, 2, 2)
    cmp(fam, 0.7, 8, 4, 1000)
  }

  test("capped-set LSH dispatch: budget-0 forced joined+grouped fallback is identical") {
    import graft.ops.Dedup
    import spark.implicits._
    // r14 session 2: the cap join + kept-vector regroup were replaced by a
    // broadcast capped-key set, collected under the broadcast threshold's
    // budget; a threshold of -1 turns the budget off and forces the
    // joined+grouped (kept-vector) formulation — both dispatches must be
    // row-identical on corpora WITH capped buckets (tight caps + near-dup
    // families, the engineered cases above).
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val fam = Seq(
      (1L, words), (2L, words),
      (3L, words.replace("w30", "zz")), (4L, words.replace("w29", "qq")),
      (5L, "completely different text about other things entirely here now"),
      (6L, "completely different text about other things entirely here now"))
      .toDF("doc_id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns(0), df.columns(1)).collect().toSeq
    // width > 0: the least payload of a driver-path read row, kept off with
    // distributedLsh; 0: an operator with no driver path
    def ab(in: org.apache.spark.sql.DataFrame, width: Int)(
        f: => org.apache.spark.sql.DataFrame): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val fast = rows(if (width > 0) distributedLsh(in, width)(f) else f)
      val grouped = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(rows(f))
      (fast, grouped)
    }
    val (m1, m2) = ab(fam, 80)(Dedup.minhashNearDuplicates(fam, threshold = 0.0,
      bands = 8, rows = 2, maxBucket = 2))
    assert(m1 == m2, s"minhash dispatch diverges: ${m1.length} vs ${m2.length}")
    val (mc1, mc2) = ab(corpus, 80)(Dedup.minhashNearDuplicates(corpus, threshold = 0.5,
      bands = 8, rows = 4, maxBucket = 3))
    assert(mc1 == mc2, s"minhash corpus dispatch diverges: ${mc1.length} vs ${mc2.length}")
    val (s1, s2) = ab(fam, 16)(Dedup.simhashNearDuplicates(fam, maxHamming = 20,
      maxBucket = 2, wideFromDocs = 0))
    assert(s1 == s2, s"sim16 dispatch diverges: ${s1.length} vs ${s2.length}")
    val (w1, w2) = ab(fam, 24)(Dedup.simhashNearDuplicatesWide(fam, maxHamming = 40,
      maxBucket = 2))
    assert(w1 == w2, s"wide dispatch diverges: ${w1.length} vs ${w2.length}")
    // one band: over budget the cap is a join against the bucket sizes;
    // the cap of 30 drops pairs, so some bucket is capped
    val (e1, e2) = ab(emb, 0)(Dedup.embeddingNearDuplicates(emb, minCosine = 0.3, planes = 4,
      maxBucket = 30))
    val uncapped = Dedup.embeddingNearDuplicates(emb, minCosine = 0.3, planes = 4,
      maxBucket = Int.MaxValue).count()
    info(s"embedding: ${e1.length} of $uncapped pairs under the cap")
    assert(e1.nonEmpty && e1.length < uncapped, s"${e1.length} of $uncapped pairs under the cap")
    assert(e1 == e2, s"embedding dispatch diverges: ${e1.length} vs ${e2.length}")
  }

  /** Run the LSH operator `f` over `in` on its distributed path with the
    * capped set, and check it took that path. `width` is the least payload
    * a row of the operator's driver-path signature read counts (minhash
    * 8 × (bands + 2), at one shingle; simhash 16, wide 24). The broadcast
    * threshold is `width` bytes for every row of `in` but one: the signature reads of
    * these fences do not fit it, while the 16-byte capped set keeps room
    * for width / 16 keys per row but one, more than their corpora cap.
    */
  private def distributedLsh(in: org.apache.spark.sql.DataFrame, width: Int)(
      f: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val threshold = width.toLong * (in.count() - 1)
    val out = withConf("spark.sql.autoBroadcastJoinThreshold", threshold.toString)(f)
    assert(out.queryExecution.optimizedPlan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"threshold $threshold: not the distributed path")
    out
  }

  /** An LSH operator's driver path (the default broadcast threshold; the
    * result is a local relation) against its distributed path (threshold
    * -1; the eager checkpoint's LogicalRDD), in rows and in schema. With
    * `driver = false` the input must take the distributed path both times.
    * Returns the sorted rows.
    */
  private def lshBothPaths(f: => org.apache.spark.sql.DataFrame,
                           driver: Boolean = true): Seq[org.apache.spark.sql.Row] = {
    def run() = {
      val out = f
      (out.queryExecution.optimizedPlan, out.schema,
        out.orderBy(out.columns.map(col): _*).collect().toSeq)
    }
    val (onPlan, onSchema, on) = run()
    val (offPlan, offSchema, off) = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(onPlan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] == driver,
      s"driver path expected: $driver, plan:\n$onPlan")
    assert(offPlan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], s"plan:\n$offPlan")
    assert(onSchema == offSchema, s"schema $onSchema vs $offSchema")
    assert(on == off, s"rows diverge: ${on.length} vs ${off.length}\n${on.take(10)}\nvs\n${off.take(10)}")
    on
  }

  test("LSH band join on the driver equals the distributed band join (corpus)") {
    val poly = Some(Dedup.polyStringHash(_: org.apache.spark.sql.Column))
    val polyPair = Some((Dedup.polyStringHash(_: org.apache.spark.sql.Column),
      Dedup.polyStringHash(_: org.apache.spark.sql.Column, 37L)))
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val corpus = spark.read.parquet(docs.inputFiles.head.replace("sf0.01", sf))
      val counts = Seq(
        "minhash 0.5" -> lshBothPaths(Dedup.minhashNearDuplicates(corpus, threshold = 0.5)),
        "minhash 0.7" -> lshBothPaths(Dedup.minhashNearDuplicates(corpus, threshold = 0.7)),
        "simhash xxhash64" -> lshBothPaths(Dedup.simhashNearDuplicates(corpus, maxHamming = 12)),
        "simhash poly" -> lshBothPaths(Dedup.simhashNearDuplicates(corpus, maxHamming = 12,
          hashFn = poly)),
        "wide fused" -> lshBothPaths(Dedup.simhashNearDuplicatesWide(corpus, maxHamming = 3)),
        "wide poly" -> lshBothPaths(Dedup.simhashNearDuplicatesWide(corpus, maxHamming = 3,
          hashFns = polyPair))).map { case (n, r) => s"$n ${r.length}" }
      info(s"$sf: ${counts.mkString(", ")}")
    }
  }

  test("LSH band join on the driver equals the distributed band join (crafted inputs)") {
    import spark.implicits._
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    // near-dup families over a cap of 2: many buckets hold 3+ docs, so a
    // pair's first shared band is often capped and it must surface at its
    // first uncapped one; 1/2 and 5/6 are exact duplicates sharing every
    // band; NULL, empty and 1-word texts, more of each than the cap
    val fam = Seq[(java.lang.Long, String)](
      (1L, words), (2L, words),
      (3L, words.replace("w30", "zz")), (4L, words.replace("w29", "qq")),
      (5L, "completely different text about other things entirely here now"),
      (6L, "completely different text about other things entirely here now"),
      (7L, words + " tail"), (8L, null), (9L, null), (10L, null), (11L, ""), (12L, ""), (13L, ""),
      (14L, "one"), (15L, "one"), (16L, "one"), (17L, "two"))
      .toDF("doc_id", "text").repartition(2)
    for (cap <- Seq(2, 1000)) {
      lshBothPaths(Dedup.minhashNearDuplicates(fam, threshold = 0.0, bands = 8, rows = 2, maxBucket = cap))
      lshBothPaths(Dedup.minhashNearDuplicates(fam, threshold = 0.7, maxBucket = cap))
      lshBothPaths(Dedup.simhashNearDuplicates(fam, maxHamming = 20, maxBucket = cap))
      lshBothPaths(Dedup.simhashNearDuplicates(fam, maxHamming = 20, maxBucket = cap,
        hashFn = Some(Dedup.polyStringHash(_))))
      lshBothPaths(Dedup.simhashNearDuplicatesWide(fam, maxHamming = 40, maxBucket = cap))
      lshBothPaths(Dedup.simhashNearDuplicatesWide(fam, maxHamming = 40, maxBucket = cap,
        hashFns = Some((Dedup.polyStringHash(_), Dedup.polyStringHash(_, 37L)))))
    }
    // 2 of 3 shingles shared: Jaccard 0.666666…, which only its rounding
    // to 6 places (0.666667) puts on the threshold
    val third = Seq((1L, "a b c d"), (2L, "a b c d e")).toDF("doc_id", "text")
    val onIt = lshBothPaths(Dedup.minhashNearDuplicates(third, threshold = 0.666667,
      bands = 16, rows = 1))
    assert(onIt.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) == Seq((1L, 2L, 0.666667)))
    // a repeated id, on a row with other text and on an equal row: the
    // attach joins pair it with every row, on the driver path, the
    // capped-set band join and the kept-vector fallback
    val twice = fam.union(Seq[(java.lang.Long, String)]((7L, words.replace("w1 ", "x1 ")),
      (7L, words + " tail")).toDF("doc_id", "text"))
    def sorted(df: org.apache.spark.sql.DataFrame) = df.orderBy(df.columns.map(col): _*).collect().toSeq
    val withSeven = for ((width, op) <- Seq[(Int, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        80 -> (Dedup.minhashNearDuplicates(_, threshold = 0.0, bands = 8, rows = 2)),
        16 -> (Dedup.simhashNearDuplicates(_, maxHamming = 20)),
        24 -> (Dedup.simhashNearDuplicatesWide(_, maxHamming = 40)))) yield {
      val local = op(twice)
      assert(local.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val on = sorted(local)
      assert(on == sorted(distributedLsh(twice, width)(op(twice))))
      assert(on == sorted(withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(op(twice))))
      on.count(r => r.getLong(0) == 7L || r.getLong(1) == 7L)
    }
    assert(withSeven.sum >= 2, s"pairs of id 7 per operator: $withSeven")
    // ids the driver path does not take: not LONG, or NULL
    val intIds = fam.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val nullId = fam.union(Seq[(java.lang.Long, String)]((null, words)).toDF("doc_id", "text"))
    for (in <- Seq(intIds, nullId)) {
      lshBothPaths(Dedup.minhashNearDuplicates(in, threshold = 0.0, bands = 8, rows = 2,
        maxBucket = 2), driver = false)
      lshBothPaths(Dedup.simhashNearDuplicates(in, maxHamming = 20, maxBucket = 2), driver = false)
      lshBothPaths(Dedup.simhashNearDuplicatesWide(in, maxHamming = 40, maxBucket = 2),
        driver = false)
    }
  }

  test("simhash wideFromDocs handoff on the driver path: decided by the signature read") {
    val corpus = spark.read.parquet(docs.inputFiles.head.replace("sf0.01", "sf0.001"))
    val wide = lshBothPaths(Dedup.simhashNearDuplicatesWide(corpus, maxHamming = 6))
    val auto = lshBothPaths(Dedup.simhashNearDuplicates(corpus, maxHamming = 3, wideFromDocs = 10))
    assert(auto == wide, "above wideFromDocs the default must equal the wide path")
    // the 16-bit signature read and the wide one; no limit+count probe
    val (_, jobs) = ExecProbe.jobs(spark)(
      Dedup.simhashNearDuplicates(corpus, maxHamming = 3, wideFromDocs = 10))
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("LSH driver path falls back when its candidate pairs outgrow the driver budget") {
    import spark.implicits._
    // 100 families of 10 exact duplicates at a cap of 10: every family
    // fills one uncapped bucket per band, 45 pair instances each. At a
    // 200 kB threshold each operator's signature read fits (minhash about
    // 104 bytes a doc, simhash 16, wide 24, 1,000 docs), but its pair
    // instances (minhash 8 bands x 4,500, simhash 4 x 4,500) do not fit
    // 200 kB / 24 = 8,333 pairs; at the default threshold they do
    val fam = (0 until 1000).map(i => (i.toLong, {
      val f = i / 10
      s"family $f alpha$f beta$f gamma$f delta$f"
    })).toDF("doc_id", "text").repartition(2)
    val ops = Seq[() => org.apache.spark.sql.DataFrame](
      () => Dedup.minhashNearDuplicates(fam, threshold = 0.7, maxBucket = 10),
      () => Dedup.simhashNearDuplicates(fam, maxHamming = 3, maxBucket = 10),
      () => Dedup.simhashNearDuplicatesWide(fam, maxHamming = 3, maxBucket = 10))
    for (op <- ops) {
      val local = lshBothPaths(op())
      assert(local.length == 4500, s"${local.length} pairs")
      val fellBack = withConf("spark.sql.autoBroadcastJoinThreshold", "200000")(
        lshBothPaths(op(), driver = false))
      assert(fellBack == local)
    }
  }

  test("LSH signature read is bounded in bytes when the size estimate undercounts") {
    import spark.implicits._
    // 20 documents of 2,000 words: about 16 kB of shingle fingerprints
    // each, 320 kB in all, while the optimizer sizes a string at 20 bytes
    // and an array at 8, so the estimate fits a 100 kB threshold. Each of
    // the 2 partitions stops after the row that takes it past 50 kB, so
    // no job sends the driver more than the budget and one row a
    // partition, and the operator falls back to its distributed path
    val long = (0 until 20).map(d => (d.toLong,
      (0 until 2000).map(i => if (i % 100 == d) s"x$d" else s"w$i").mkString(" ")))
      .toDF("doc_id", "text").repartition(2)
    def op() = Dedup.minhashNearDuplicates(long, threshold = 0.5)
    val local = lshBothPaths(op())
    assert(local.nonEmpty)
    val budget = 100000L
    val (fellBack, perJob) = withConf("spark.sql.autoBroadcastJoinThreshold", budget.toString)(
      ExecProbe.resultBytes(spark)(lshBothPaths(op(), driver = false)))
    assert(fellBack == local)
    val row = 8L * (1 + 1998 + 8 + 8)
    assert(perJob.max <= budget + 2 * row + 16384 && perJob.max < 20 * row,
      s"a job sent ${perJob.max} bytes to the driver (jobs: $perJob)")
  }

  /** Run `f` at shuffle width `width`, with `confs` set, restoring both. */
  private def withConfs[T](width: Int, confs: (String, String)*)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private def pins(ex: Seq[ExecProbe.Exchange]): Seq[Int] =
    ex.filter(_.origin == "REPARTITION_BY_NUM").map(_.width).sorted

  test("LSH pin rule: frames within one advisory partition run unpinned, forced pins keep the pairs") {
    // the frames that size the LSH exchanges (minhash slim/shingled, the
    // simhash banded frames) are well under 1 MB here: at the default
    // 64 MB advisory size no LSH exchange is pinned, and an advisory size
    // below the frame forces the session-width pin — same pair sets
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val width = 8
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhash" -> (() => distributedLsh(corpus, 80)(Dedup.minhashNearDuplicates(corpus,
        threshold = 0.5))),
      "simhash 16-bit" -> (() => distributedLsh(corpus, 16)(Dedup.simhashNearDuplicates(corpus,
        maxHamming = 12, wideFromDocs = 0))),
      "simhash wide" -> (() => distributedLsh(corpus, 24)(Dedup.simhashNearDuplicatesWide(corpus,
        maxHamming = 3))))
    for ((name, f) <- cases) {
      val (free, freeEx) = withConfs(width)(ExecProbe.exchanges(spark)(pairSet(f())))
      val (pinned, pinEx) = withConfs(width,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")(
        ExecProbe.exchanges(spark)(pairSet(f())))
      info(s"$name: ${free.size} pairs, forced pins ${pins(pinEx)}")
      assert(free.nonEmpty && free == pinned, s"$name: pinned pairs diverge")
      assert(pins(freeEx).isEmpty, s"$name: pinned at the default advisory size: ${pins(freeEx)}")
      assert(pins(pinEx).nonEmpty && pins(pinEx).forall(_ == width),
        s"$name: forced pins are not at session width: ${pins(pinEx)}")
    }
  }

  test("LSH pin rule: a frame without a materialized row count pins") {
    withConfs(8) {
      // a file scan's statistic is a size estimate only
      val scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      assert(scan.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
      assert(Dedup.lshPinWidth(scan).contains(8))
      // a persisted frame: an estimate until a job loads the cache, then
      // the exact materialized size (a few KB). The first probe reads a
      // derived frame, so `cached`'s own plan statistic is not memoized
      // before the load.
      val cached = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id").persist()
      try {
        assert(Dedup.lshPinWidth(cached.filter(lit(true))).contains(8))
        cached.count()
        assert(Dedup.lshPinWidth(cached).isEmpty)
      } finally cached.unpersist()
    }
  }

  test("graft.lsh.pinnedWidth=N: self-join at N, attach joins at max(N, session width)") {
    // the attach exchanges are the join's direct children; Spark's
    // EnsureRequirements re-shuffles a join whose children are all shuffles
    // narrower than spark.sql.shuffle.partitions to that width, so an N
    // below the session width narrows only the self-join
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val width = 8
    for (n <- Seq(3, 12)) {
      val (_, ex) = withConfs(width, "graft.lsh.pinnedWidth" -> n.toString)(
        ExecProbe.exchanges(spark)(pairSet(distributedLsh(corpus, 80)(
          Dedup.minhashNearDuplicates(corpus, threshold = 0.5)))))
      val pinned = ex.filter(_.origin == "REPARTITION_BY_NUM")
      info(s"pinnedWidth=$n: ${pinned.map(e => s"${e.keys.mkString(",")}@${e.width}")}")
      val (selfJoin, attach) = pinned.partition(_.keys == Seq("band", "bucket"))
      assert(selfJoin.nonEmpty && selfJoin.forall(_.width == n), s"self-join: $selfJoin")
      assert(attach.size == 4 && attach.forall(_.width == math.max(n, width)), s"attach: $attach")
    }
  }

  /** The join-back formulation `Dedup.chunkDedup` replaced: the
    * equivalence fence's reference.
    */
  private def chunkDedupJoined(df: org.apache.spark.sql.DataFrame,
                               chunkWords: Int): org.apache.spark.sql.DataFrame = {
    val chunks = df.select(col("doc_id"),
      posexplode(graft.functions.ChunkWordsExpr.chunkWords(col("text"), chunkWords))
        .as(Seq("pos", "chunk")))
    val withFp = chunks.withColumn("__cfp", xxhash64(col("chunk")))
    val keepers = withFp.select(col("__cfp"), col("doc_id"), col("pos"))
      .groupBy("__cfp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"))
      .select(col("__cfp"), col("kp.doc_id").as("doc_id"), col("kp.pos").as("pos"))
    val kept = withFp.join(keepers, Seq("__cfp", "doc_id", "pos"))
    df.select(col("doc_id"),
        size(graft.functions.ChunkWordsExpr.chunkWords(col("text"), chunkWords))
          .cast("bigint").as("n_chunks"))
      .join(
        kept.groupBy("doc_id").agg(
          count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_clean")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  test("chunkDedup: carry-chunk keeper agg equals the join-back formulation") {
    import graft.ops.Dedup
    import spark.implicits._
    // the r14 fence: min(struct(id, pos, chunk)) election must be
    // row-identical to electing min(struct(id, pos)) + joining the chunk
    // back — on the corpus AND on tie/boilerplate shapes (same chunk in
    // many docs/positions, single-word docs, empty docs)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def cmp(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
      val a = Dedup.chunkDedup(df, chunkWords = k).orderBy("doc_id").collect()
      val b = chunkDedupJoined(df, chunkWords = k).orderBy("doc_id").collect()
      assert(a.sameElements(b), "carry-chunk keeper != join-back keeper")
    }
    cmp(corpus, 10)
    val boiler = Seq(
      (5L, "x x x x x x x x x"), (1L, "x x x x x x"), (2L, "x x x y y y"),
      (3L, ""), (4L, "solo"), (6L, "x x x x x x x x x x x x")
    ).toDF("doc_id", "text")
    cmp(boiler, 3)
    // null text row via union (Seq.toDF can't carry null in a 2-tuple cleanly)
    cmp(boiler.unionByName(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .unionByName(spark.sql("SELECT 7L AS doc_id, CAST(NULL AS STRING) AS text")), 3)
  }

  for ((suffix, setting) <- ccPaths) {
    test("connected components: chains, disjoint clusters, keeper selection" + suffix) {
      onCcPath(setting) {
        import spark.implicits._
        val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (50L, 60L))
          .toDF("doc_id_a", "doc_id_b")
        val cc = Dedup.connectedComponents(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(cc == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
          50L -> 50L, 60L -> 50L), s"got $cc")

        val corpus = Seq(10L, 20L, 30L, 40L, 50L, 60L, 99L).toDF("doc_id")
        val kept = Dedup.dedupByPairs(corpus, pairs).select("doc_id")
          .collect().map(_.getLong(0)).toSet
        // one keeper per cluster (the min id) plus the untouched singleton
        assert(kept == Set(10L, 50L, 99L), s"got $kept")
      }
    }

    test("connected components fails loudly when maxIter is below the diameter" + suffix) {
      onCcPath(setting) {
        import spark.implicits._
        // a 6-node chain has diameter 5 > maxIter=2
        val pairs = (10L to 15L).sliding(2).map(s => (s(0), s(1))).toSeq
          .toDF("doc_id_a", "doc_id_b")
        val e = intercept[IllegalStateException] {
          Dedup.connectedComponents(pairs, maxIter = 2).collect()
        }
        assert(e.getMessage.contains("maxIter"), e.getMessage)
      }
    }

    // Regression: the label frame feeds twice into each round, so without
    // per-round lineage truncation the logical plan doubles per iteration
    // (OOMed the test heap inside explainString at ~20 rounds in round 4).
    // A 14-node chain needs >10 propagation rounds; the returned plan must
    // still be a leaf (a checkpoint, or the driver path's local relation),
    // not a 2^rounds tree.
    test("connected components: plan size is O(1) in iteration count" + suffix) {
      onCcPath(setting) {
        import spark.implicits._
        val pairs = (100L to 113L).sliding(2).map(s => (s(0), s(1))).toSeq
          .toDF("doc_id_a", "doc_id_b")
        val cc = Dedup.connectedComponents(pairs, maxIter = 30)
        val planNodes = cc.queryExecution.logical.collect { case p => p }.size
        assert(planNodes <= 3, s"lineage not truncated: $planNodes logical nodes")
        val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(labels == (100L to 113L).map(_ -> 100L).toMap, s"got $labels")
      }
    }
  }

  test("connected components: driver and distributed rounds agree on the sf0.01 pair list") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.7).localCheckpoint()
    val local = Dedup.connectedComponents(pairs)
    val distributed = onCcPath(Some("-1"))(Dedup.connectedComponents(pairs))
    assert(local.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation], "sf0.01 list fits the driver")
    assert(!distributed.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation], "threshold -1 keeps it distributed")
    assert(local.schema == distributed.schema)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val l = labels(local)
    assert(l.nonEmpty && l.map(_._2).distinct.size < l.size, "the list has non-trivial components")
    assert(l == labels(distributed))
  }

  test("connected components on the real sf0.01 exact pair list") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.7)
    val cc = Dedup.connectedComponents(pairs)
    val nodes = pairSet(pairs).flatMap(p => Seq(p._1, p._2))
    val rows = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).toSet == nodes, "one label per node in the pair list")
    // every component label is itself a member node and <= all its members
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp, s"component $comp not the min member id")
    }
  }

  test("deterministic sampling: reproducible, rate-accurate, seed-sensitive") {
    val total = docs.count().toDouble
    val s1 = Sampling.deterministicSample(docs, "doc_id", 0.25, seed = 7)
    val s2 = Sampling.deterministicSample(docs, "doc_id", 0.25, seed = 7)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == s2.select("doc_id").collect().map(_.getLong(0)).toSet,
      "same seed must select the same rows")
    val rate = ids1.size / total
    assert(math.abs(rate - 0.25) < 0.05, s"kept rate $rate far from 0.25")
    val other = Sampling.deterministicSample(docs, "doc_id", 0.25, seed = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != ids1, "different seed must select a different row set")
    // negative keys would silently break the rate (sign-extended shift) —
    // the operator must refuse them loudly
    import spark.implicits._
    val neg = Seq(-5L, 3L).toDF("doc_id")
    val e = intercept[Exception](
      Sampling.deterministicSample(neg, "doc_id", 0.5).collect())
    assert(e.getMessage.contains("negative key") ||
      Option(e.getCause).exists(_.getMessage.contains("negative key")), e.getMessage)
  }

  test("sessionization: gap rule, tie-break, and per-session stats") {
    import spark.implicits._
    // user 1: events at t=0, 10, 50 (gap>30 starts session 2); user 2: one
    // event; tie at t=10 broken by event_id (same session either way, but
    // the ordering must be deterministic)
    val ev = Seq(
      (1L, 0L, 10L, 1.0), (2L, 10L, 10L, 2.0), (3L, 10L, 10L, 3.0),
      (4L, 50L, 10L, 4.0), (5L, 0L, 20L, 7.0)
    ).toDF("event_id", "t", "user_id", "value")
    val got = graft.ops.Sessions.sessionStats(ev, "user_id", "t", "event_id", "value", gap = 30L)
      .orderBy("user_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (10L, 1L, 3L, 0L, 10L, 6.0),   // t=0,10,10 in one session
      (10L, 2L, 1L, 50L, 50L, 4.0),  // 40 > 30 gap
      (20L, 1L, 1L, 0L, 0L, 7.0)))
    // a gap of exactly `gap` does NOT split (strict >)
    val edge = Seq((1L, 0L, 1L, 1.0), (2L, 30L, 1L, 1.0)).toDF("event_id", "t", "user_id", "value")
    assert(graft.ops.Sessions.byGap(edge, "user_id", "t", "event_id", gap = 30L)
      .select("session_seq").as[Long].collect().toSet == Set(1L))
  }

  test("stratified sampling: per-stratum rates within tolerance") {
    val kept = Sampling.stratifiedSample(docs, "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.9), default = 0.2, seed = 3)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(l: String) = kept.getOrElse(l, 0L).toDouble / totals(l)
    assert(math.abs(rate("en") - 0.5) < 0.12, s"en rate ${rate("en")}")
    assert(math.abs(rate("zh") - 0.9) < 0.12, s"zh rate ${rate("zh")}")
    assert(math.abs(rate("de") - 0.2) < 0.12, s"de rate ${rate("de")}")
  }

  test("incremental dedup: in-batch dups and history dups both drop") {
    import spark.implicits._
    val hist = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha  text"),   // dup of history (normalization folds spaces)
      (11L, "gamma text"),    // novel
      (12L, "gamma text"),    // in-batch dup of 11
      (13L, "delta text")     // novel
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, Dedup.fingerprintIndex(hist))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("incremental dedup over two batches == one-shot dedup of the union") {
    // the invariant that makes the incremental cycle safe to deploy:
    // fold batch 1 into the index, dedup batch 2 against it, and the
    // union of keepers equals exactDedup over everything at once
    // (ids ordered so batch-1 ids < batch-2 ids, as in a real pipeline)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val b1 = d.filter(col("doc_id") < 100)
    val b2 = d.filter(col("doc_id") >= 100)
    val idx0 = Dedup.fingerprintIndex(b1)
    val keptIncr =
      Dedup.incrementalDedup(b1, idx0.limit(0)).select("doc_id").union(
        Dedup.incrementalDedup(b2, idx0).select("doc_id"))
        .collect().map(_.getLong(0)).toSet
    val keptFull = Dedup.exactDedup(d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIncr == keptFull)
    // and the folded index agrees with an index built from scratch
    val foldedRows = Dedup.updateFingerprintIndex(idx0, b2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratchRows = Dedup.fingerprintIndex(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foldedRows == scratchRows)
  }

  test("semanticDedup: drops exactly the vectors with a lower-id in-cluster similar neighbor") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val got = Dedup.semanticDedup(e, k = 4, iters = 1, minCosine = 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    // brute-force re-derivation from the same building blocks
    val clusters = graft.ops.Clustering.kmeans(e, k = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.size == vecs.size, "one row per vector")
    got.foreach { case (id, (cl, kept)) =>
      assert(cl == clusters(id), s"cluster mismatch for $id")
      val hasLowerSim = vecs.keys.exists(o =>
        o < id && clusters(o) == cl && cos(vecs(o), vecs(id)) >= 0.3)
      assert(kept == !hasLowerSim, s"keep rule wrong for $id")
    }
    // dedup actually fires on this corpus
    assert(got.values.exists(!_._2), "expected at least one dropped vector")
  }

  test("semanticDedup auto-k: floors at 8 on small corpora, scales as ceil(n/target)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // small corpus: auto-k hits the floor of 8 -> identical rows to k=8
    val auto = Dedup.semanticDedup(e, minCosine = 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val pinned = Dedup.semanticDedup(e, k = 8, minCosine = 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(auto == pinned, "auto-k at the floor must equal explicit k=8")
    // above the floor: targetClusterSize=20 on the 500-vector corpus -> k=25
    val n = e.count()
    val kExpect = math.max(8L, (n + 19) / 20).toInt
    val scaled = Dedup.semanticDedup(e, minCosine = 0.3, targetClusterSize = 20)
    val kGot = scaled.agg(countDistinct(col("cluster"))).collect()(0).getLong(0)
    assert(kGot <= kExpect && kGot > 8,
      s"expected up to $kExpect populated clusters (k scaled off the floor), got $kGot")
  }

  test("deterministicShuffle: permutation, equal to the global-window definition, seed-sensitive") {
    import spark.implicits._
    val d = (0L until 500L).toDF("doc_id").repartition(7)
    val got = graft.ops.Sampling.deterministicShuffle(d, "doc_id", seed = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a permutation of 1..N
    assert(got.values.toSeq.sorted == (1L to 500L))
    // equals row_number() OVER (ORDER BY hash, key) — the oracle definition
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(graft.ops.Sampling.hashBucket(col("doc_id"), 7L), col("doc_id"))
    val naive = d.withColumn("position", row_number().over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive, "two-phase enumeration must equal the global window")
    // different seed => different order
    val other = graft.ops.Sampling.deterministicShuffle(d, "doc_id", seed = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got != other, "seed change must permute differently")
    // the data-bearing window is partitioned by bucket, not global
    val plan = graft.ops.Sampling.deterministicShuffle(d, "doc_id", seed = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__b"),
      s"expected the row_number window partitioned by bucket:\n$plan")
  }

  test("cleanText: controls stripped, zero-widths stripped, runs collapsed") {
    import spark.implicits._
    val cases = Seq(
      // control chars vanish; tab runs collapse; outer space trimmed
      (1L, " a b c \t\t d ", "a bc d"),
      // zero-widths (ZWSP/ZWJ/BOM) vanish without joining words wrongly
      (2L, "x​y‍z﻿w", "xyzw"),
      // 3+ newlines -> paragraph break; 2 newlines untouched
      (3L, "p\n\n\n\nq\n\nr", "p\n\nq\n\nr"),
      // \t and \n survive the control-char strip (they are format, not junk)
      (4L, "keep\tthis\nline", "keep this\nline"),
      // already-clean text is a no-op
      (5L, "already clean text", "already clean text"))
    val got = cases.toDF("id", "raw", "want")
      .select(col("id"), graft.ops.TextAnalysis.cleanText(col("raw")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, _, want) <- cases)
      assert(got(id) == want, s"case $id: got ${got(id).replace("\n", "\\n")}")
  }

  test("shingle_fp: bit-identical to composed shingle fingerprints; sorted_jaccard matches set ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val advers = Seq("", " ", "\t", "a", "a b", "a b c", "a b c d e",
      "  Tabs\tand\nnewlines  ", "x \u000B y z w", "Repeat a b c a b c a b c",
      "\u00C9t\u00E9 \u0130stanbul m\u00FCnchen stra\u00DFe")
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    val composed = array_sort(array_distinct(transform(
      graft.ops.Dedup.shingles(col("text"), 3), s => xxhash64(s))))
    val out = df.select(
      graft.functions.ShingleFpExpr.shingleFp(col("text"), 3).as("fused"),
      composed.as("ref")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"row $i: fused=${r.getSeq[Long](0).take(5)} ref=${r.getSeq[Long](1).take(5)}")
    }
    // sorted_jaccard == size(intersect)/size(union) on sorted-distinct arrays
    val pairs = df.as("x").crossJoin(df.as("y")).limit(400)
      .select(graft.functions.ShingleFpExpr.shingleFp(col("x.text"), 3).as("a"),
        graft.functions.ShingleFpExpr.shingleFp(col("y.text"), 3).as("b"))
    val cmp = pairs.select(
      graft.functions.SortedJaccardExpr.sortedJaccard(col("a"), col("b")).as("merge"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).as("setop")).collect()
    cmp.zipWithIndex.foreach { case (r, i) =>
      val m = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val s2 = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      if (m == null || s2 == null) assert(m == s2 || (s2 != null && s2.isNaN), s"row $i: $m vs $s2")
      else assert(m.doubleValue() == s2.doubleValue(), s"row $i: $m vs $s2")
    }
  }

  test("minhash_bands: byte-identical to the explode + per-seed MIN + concat_ws formulation") {
    import org.apache.spark.sql.functions._
    val bands = 8; val rows = 4; val k = bands * rows
    val sh = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), graft.functions.ShingleFpExpr.shingleFp(col("text"), 3).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val fused = sh.select(col("doc_id"),
        posexplode(graft.functions.MinHashBandsExpr.minhashBands(col("__sh"), bands, rows))
          .as(Seq("band", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exploded = sh.select(col("doc_id"), explode(col("__sh")).as("__s"))
    val minCols = (0 until k).map(seed => min(xxhash64(col("__s"), lit(seed))).as(s"__m$seed"))
    val sig = exploded.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", (0 until rows).map(r => col(s"__m${b * rows + r}")): _*)).as("bucket"))
    }
    val ref = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fused == ref, s"diff=${(fused diff ref).take(3)} / ${(ref diff fused).take(3)}")
  }

  test("chunk_words: string-identical to the composed split/slice/array_join formulation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = 10
    val advers = Seq("", " ", "\tlead", "trail\t", "one", "a b c d e f g h i j",
      "a b c d e f g h i j k", "x\u000By  double  spaces\t\ttabs",
      (1 to 35).map(i => s"w$i").mkString(" "))
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    val words = split(trim(col("text")), "\\s+")
    val nChunks = floor((size(words) + lit(k - 1)) / lit(k)).cast("int")
    val composed = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(words, i * k + 1, lit(k)), " "))
    val out = df.select(
      graft.functions.ChunkWordsExpr.chunkWords(col("text"), k).as("fused"),
      composed.as("ref")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"row $i: fused=${r.getSeq[String](0).take(2)} ref=${r.getSeq[String](1).take(2)}")
    }
  }

  test("weightedPrioritySample: deterministic, weight-monotone, TakeOrdered plan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = greatest(length(col("text")), lit(1))
    val s1 = graft.ops.Sampling.weightedPrioritySample(docs, 40, w, "doc_id", seed = 7)
    val s2 = graft.ops.Sampling.weightedPrioritySample(docs.repartition(13), 40, w, "doc_id", seed = 7)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = s2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "selection must not depend on partitioning")
    assert(ids1.size == 40)
    // weight-monotonicity: across many seeds, long docs must be selected
    // far more often than short ones (inclusion probability ~ weight)
    val lens = docs.select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val med = lens.values.toSeq.sorted.apply(lens.size / 2)
    var longHits = 0L; var shortHits = 0L
    for (seed <- 0 until 8) {
      val sel = graft.ops.Sampling.weightedPrioritySample(docs, 40, w, "doc_id", seed)
        .select("doc_id").collect().map(_.getLong(0))
      longHits += sel.count(id => lens(id) > med)
      shortHits += sel.count(id => lens(id) <= med)
    }
    assert(longHits > 2 * shortHits,
      s"weighting not reflected in selection: long=$longHits short=$shortHits")
    // partial top-k, not a global sort
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan)
  }

  test("simhash64: bit-identical to the composed simhash fold") {
    import spark.implicits._
    val advers = Seq("", "one", "two words", "a b c d e f",
      "Tabs\tand\nnewlines and MIXED case words repeated words repeated")
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    val out = df.select(
      graft.functions.SimHashExpr.simhash64(col("text"), 2).as("fused"),
      graft.ops.Dedup.simhash(col("text"), 2).as("ref")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1), s"row $i: ${r.getLong(0)} vs ${r.getLong(1)}")
    }
  }

  test("simhash_wide_bands: bit-identical to the two-signature band formulation") {
    import spark.implicits._
    val salt = 0x9E3779B97F4A7C15L
    val advers = Seq("", "one", "two words", "a b c d e f",
      "Tabs\tand\nnewlines and MIXED case words repeated words repeated")
    val df = advers.toDF("text") union
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text").limit(200)
    // composed reference: two independent SimHashExpr evaluations + the
    // explicit 4-struct chunk/key derivation (the shape the fused
    // generator replaced in simhashNearDuplicatesWide)
    val ref = df
      .withColumn("__sa", graft.functions.SimHashExpr.simhash64(col("text"), 2))
      .withColumn("__sb", graft.functions.SimHashExpr.simhash64Salted(col("text"), 2, salt))
      .select(col("__sa"), col("__sb"),
        explode(array(
          struct(lit(0).as("chunk"), col("__sa").bitwiseAND(0x7FFFFFFFL).as("key")),
          struct(lit(1).as("chunk"), shiftright(col("__sa"), 31).as("key")),
          struct(lit(2).as("chunk"), col("__sb").bitwiseAND(0x7FFFFFFFL).as("key")),
          struct(lit(3).as("chunk"), shiftright(col("__sb"), 31).as("key")))).as("__ck"))
      .select(col("__ck.chunk"), col("__ck.key"), col("__sa"), col("__sb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fused = df
      .select(explode(graft.functions.SimHashWideBandsExpr
        .simhashWideBands(col("text"), 2, salt)).as("__ck"))
      .select(col("__ck.chunk"), col("__ck.key"), col("__ck.sa"), col("__ck.sb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(fused == ref,
      s"fused wide bands diverge: ${fused.zip(ref).filter(p => p._1 != p._2).take(3)}")
  }
}
