package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.ops.{Clustering, GraphRank, Relevance}

/** Behavior gates for the relevance (BM25/TF-IDF) and clustering (k-means)
  * operators: ranking sanity, per-doc rank structure, and the determinism
  * property the integer-quantized k-means is built around.
  */
class RelevanceClusteringSuite extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("bm25: top-k ranked descending, every hit matches a query term") {
    val terms = Seq("join", "vector", "dup")
    val top = Relevance.bm25(docs, terms, topK = 15).collect()
    assert(top.length == 15)
    val scores = top.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "not descending")
    assert(scores.forall(_ > 0))
    val ids = top.map(_.getLong(0)).toSet
    val withTerm = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .collect()
    withTerm.foreach { r =>
      assert(terms.exists(t => r.getString(1).contains(t)), s"doc ${r.getLong(0)} has no query term")
    }
  }

  test("bm25: a rare term outscores a common one at equal tf") {
    // idf('dup') >> idf('join') on this corpus (df 25 vs 394 at sf0.01)
    val d = Seq((1L, "dup alpha"), (2L, "join alpha")) ++
      (3L to 30L).map(i => (i, if (i % 2 == 0) "join beta" else "gamma"))
    val df = d.toDF("doc_id", "text")
    val top = Relevance.bm25(df, Seq("dup", "join"), topK = 5).collect()
    assert(top.head.getLong(0) == 1L, "the doc with the rarer term must rank first")
  }

  test("tfidf: ranks are 1..perDoc, scores non-increasing within a doc") {
    val r = Relevance.tfidfTopTerms(docs, perDoc = 3, minDf = 2)
    val byDoc = r.collect().map(x => (x.getLong(0), x.getInt(1), x.getDouble(3)))
      .groupBy(_._1)
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      val s = sorted.map(_._3)
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    }
  }

  // fence for the r13 fused-argmin assignment: the projection path must be
  // row-identical to the crossJoin + min(struct(__d, cidx)) formulation it
  // replaced — including engineered distance ties (→ lowest cidx), a null
  // element in q (every distance null → lowest cidx via struct nulls-first),
  // and a length-mismatched centroid (its null distance sorts smallest and
  // WINS — preserved, not "fixed")
  /** The crossJoin + struct-min formulation `Clustering.assign` replaced:
    * the equivalence fence's reference.
    */
  private def assignJoined(q: DataFrame, centroids: DataFrame): DataFrame =
    q.crossJoin(broadcast(centroids))
      .withColumn("__d", Clustering.sqDist(col("q"), col("cvec")))
      .groupBy("vec_id")
      // q is functionally determined by vec_id, so first() is deterministic
      .agg(first("q").as("q"), min(struct(col("__d"), col("cidx"))).as("__m"))
      .select(col("vec_id"), col("q"), col("__m.cidx").as("cluster"))

  test("kmeans assign: fused argmin projection equals crossJoin struct-min") {
    def q(rows: Seq[(Long, Seq[java.lang.Long])]) =
      rows.toDF("vec_id", "q")
    def cents(rows: Seq[(Int, Seq[Double])]) =
      rows.toDF("cidx", "cvec")
    val corpus = emb.select(col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val realCents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cidx"),
        transform(col("q"), x => x.cast("double")).as("cvec"))
    def cmp(qdf: org.apache.spark.sql.DataFrame, cdf: org.apache.spark.sql.DataFrame): Unit = {
      val a = Clustering.assign(qdf, cdf).select("vec_id", "cluster")
      val b = assignJoined(qdf, cdf).select("vec_id", "cluster")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "fused argmin != joined struct-min")
    }
    cmp(corpus, realCents)
    // exact tie between cidx 2 and 0 (identical centroids) → lowest cidx
    cmp(q(Seq(1L -> Seq[java.lang.Long](3L, 4L), 2L -> Seq[java.lang.Long](0L, 0L))),
      cents(Seq(0 -> Seq(1.0, 1.0), 1 -> Seq(9.0, 9.0), 2 -> Seq(1.0, 1.0))))
    // null element in q: every distance null, struct-min nulls-first
    cmp(q(Seq(1L -> Seq[java.lang.Long](3L, null), 2L -> Seq[java.lang.Long](5L, 6L))),
      cents(Seq(0 -> Seq(1.0, 1.0), 1 -> Seq(5.0, 6.0))))
    // length-mismatched centroid: its null distance wins over finite ones
    cmp(q(Seq(1L -> Seq[java.lang.Long](3L, 4L))),
      cents(Seq(0 -> Seq(3.0, 4.0), 1 -> Seq(1.0))))
  }

  test("kmeans: assignment is partition-order invariant and total") {
    val a1 = Clustering.kmeans(emb, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = Clustering.kmeans(emb.repartition(13), k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2, "clustering must not depend on partitioning")
    assert(a1.size == emb.count())
    assert(a1.values.forall(c => c >= 0 && c < 8))
    assert(a1.values.toSet.size > 1, "degenerate single-cluster result")
  }

  /** Per-cluster inertia (sum of squared distances to the assigned
    * centroid) and sizes after `iters` Lloyd rounds from the k smallest ids
    * — the convergence diagnostic of the test below.
    */
  private def inertia(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val q = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"))
    var centroids = q.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cidx"),
        transform(col("q"), x => x.cast("double")).as("cvec"))
    for (_ <- 1 to iters) centroids = Clustering.lloydRound(q, centroids)
    q.crossJoin(broadcast(centroids))
      .withColumn("__d", Clustering.sqDist(col("q"), col("cvec")))
      .groupBy("vec_id")
      .agg(min(struct(col("__d"), col("cidx"))).as("__m"))
      .groupBy(col("__m.cidx").as("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("__m.__d")).as("inertia"))
  }

  test("kmeans: Lloyd iterations do not increase total inertia") {
    def total(iters: Int): Double =
      inertia(emb, k = 8, iters = iters)
        .agg(sum("inertia")).as[Double].collect().head
    val i0 = total(0)
    val i2 = total(2)
    assert(i2 <= i0, s"inertia rose: $i0 -> $i2")
  }

  // k-means on the driver (the default threshold: the result is a local
  // relation) against the distributed rounds (threshold off), row for row
  private def kmeansBothPaths(df: DataFrame, k: Int, iters: Int): Seq[(Option[Long], Int)] = {
    def run(): (Boolean, Seq[(Option[Long], Int)]) = {
      val out = Clustering.kmeans(df, k = k, iters = iters)
      (out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        out.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getInt(1)))
          .toSeq.sorted)
    }
    val (onDriver, driver) = run()
    val (offDriver, distributed) = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run())
    assert(onDriver && !offDriver, s"k=$k iters=$iters: paths not taken as expected")
    assert(driver == distributed, s"k=$k iters=$iters: driver k-means diverged\n$driver\nvs\n$distributed")
    driver
  }

  test("kmeans: driver rounds equal the distributed rounds (corpus, iters 0-2)") {
    for (sf <- Seq("sf0.001", "sf0.01"); iters <- 0 to 2) {
      val out = kmeansBothPaths(spark.read.parquet(emb.inputFiles.head.replace("sf0.001", sf)),
        k = 8, iters = iters)
      assert(out.map(_._2).toSet.size > 1, s"$sf iters=$iters: one cluster")
    }
  }

  test("kmeans: driver rounds equal the distributed rounds (edge vectors)") {
    // two partitions: a local relation would make both results local
    def vecs(rows: (java.lang.Long, Seq[java.lang.Double])*): DataFrame =
      rows.toDF("vec_id", "embedding").repartition(2)
    val n: java.lang.Double = null
    // k above the row count: every vector is an initial centroid
    val few = vecs((0L, Seq(0.1, 0.2)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.5, 0.5)))
    // ids 0 and 1 are the same vector: every distance to centroid 1 ties
    // centroid 0's, so centroid 1 loses every member; null vectors, a NULL
    // component, a short and an empty vector (all distances NULL: lowest
    // index) and a NULL id ride along
    val edges = vecs((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(5.0, 5.0)),
      (3L, Seq(5.0, 5.1)), (4L, Seq(9.0, 1.0)), (5L, null), (6L, Seq(4.0, n)),
      (7L, Seq(1.0)), (8L, Seq()), (null, Seq(2.0, 2.0)), (9L, Seq(5.0, 5.0)), (10L, null))
    // an initial centroid with a NULL component
    val nullInit = vecs((0L, Seq(1.0, n)), (1L, Seq(3.0, 3.0)), (2L, Seq(1.0, 1.0)),
      (3L, Seq(3.0, 2.5)), (4L, Seq(0.5, 0.5)))
    for (iters <- 0 to 2) {
      val f = kmeansBothPaths(few, k = 10, iters = iters)
      assert(f.map(_._2) == Seq(0, 1, 2), s"iters=$iters: k > rows")
      val e = kmeansBothPaths(edges, k = 4, iters = iters)
      assert(e.length == 12 && !e.exists(_._2 == 1), s"iters=$iters: centroid 1 kept members")
      kmeansBothPaths(nullInit, k = 2, iters = iters)
    }
  }

  test("kmeans: a NULL vector among the initial centroids is an argument error on both paths") {
    val in = Seq[(java.lang.Long, Seq[java.lang.Double])](
        (0L, null), (1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)))
      .toDF("vec_id", "embedding").repartition(2)
    for (threshold <- Seq(None, Some("-1"))) {
      val e = intercept[IllegalArgumentException](threshold.fold(
        Clustering.kmeans(in, k = 2, iters = 1).collect())(t =>
        withConf("spark.sql.autoBroadcastJoinThreshold", t)(
          Clustering.kmeans(in, k = 2, iters = 1).collect())))
      assert(e.getMessage.contains("kmeans") && e.getMessage.contains("vec_id 0"),
        s"threshold $threshold: ${e.getMessage}")
    }
  }

  test("semanticDedup: same rows with k-means on the driver or distributed") {
    import graft.ops.Dedup
    for (k <- Seq(8, 0)) {
      val run = () => rows(Dedup.semanticDedup(emb, k = k, iters = 1, minCosine = 0.3))
      val driver = run()
      assert(driver.length == emb.count())
      assert(driver == withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run()),
        s"k=$k: semanticDedup rows moved")
    }
  }

  test("kmeansTwoLevel: kSuper=1 degenerates to flat kmeans, bit for bit") {
    // dense 0-based ids make the two initializers coincide (flat: cidx =
    // vec_id < k; two-level: iidx = rank-1 over vec_id order) — with one
    // super-cell the whole algorithm must then replay flat Lloyd exactly
    val synth = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.13)))
    }.toDF("vec_id", "embedding")
    val flat = Clustering.kmeans(synth, k = 12, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // same INT schema on both paths (r9 ADVICE: a LONG here flipped
    // semanticDedup's output schema at the twoLevelFromK threshold)
    val two = Clustering.kmeansTwoLevel(synth, kSuper = 1, kInner = 12, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(two == flat, "kSuper=1 two-level must equal flat kmeans")
  }

  test("kmeansTwoLevel: total, in-range, splits cells, partition-invariant") {
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      Clustering.kmeansTwoLevel(df, kSuper = 4, kInner = 4, iters = 1)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = run(emb)
    val a2 = run(emb.repartition(13))
    assert(a1 == a2, "two-level clustering must not depend on partitioning")
    assert(a1.size == emb.count())
    assert(a1.values.forall(c => c >= 0 && c < 16))
    // the inner level must actually split cells: more clusters in use than
    // the coarse level alone could produce
    assert(a1.values.toSet.size > 4, s"only ${a1.values.toSet.size} clusters in use")
  }

  test("semanticDedup: forced two-level path is total and deterministic") {
    import graft.ops.Dedup
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      Dedup.semanticDedup(df, k = 16, iters = 1, twoLevelFromK = 16)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val r1 = run(emb)
    assert(r1.size == emb.count(), "every vector classified exactly once")
    val r2 = run(emb.repartition(7))
    assert(r1 == r2, "two-level dedup must not depend on partitioning")
    assert(r1.values.count(identity) > 0, "degenerate: everything dropped")
  }

  test("semanticDedup: soft candidate assignment only ever finds MORE duplicates") {
    import graft.ops.Dedup
    // soft = each vector also shops in its 2nd-nearest coarse cell during
    // candidate generation — a strict superset of the hard candidate set,
    // so kept(soft) <= kept(hard), with output totality unchanged
    def kept(soft: Boolean): (Long, Long) = {
      val out = Dedup.semanticDedup(emb, k = 16, iters = 1, twoLevelFromK = 16,
        twoLevelSoft = soft)
      (out.count(), out.filter("kept").count())
    }
    val (nSoft, keptSoft) = kept(soft = true)
    val (nHard, keptHard) = kept(soft = false)
    assert(nSoft == nHard && nSoft == emb.count(), "totality must not change")
    assert(keptSoft <= keptHard,
      s"soft candidates are a superset, so kept must not rise: $keptSoft > $keptHard")
  }

  test("kmeansTwoLevel: softCandidates leaves the primary assignment bit-identical") {
    val hard = Clustering.kmeansTwoLevel(emb, kSuper = 4, kInner = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val soft = Clustering.kmeansTwoLevel(emb, kSuper = 4, kInner = 4, iters = 1,
        softCandidates = true)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2)))
    assert(soft.map(t => t._1 -> t._2).toMap == hard,
      "soft mode must not move the primary assignment")
    // the secondary lives in a DIFFERENT coarse cell by construction
    val kInner = 4
    assert(soft.forall(t => t._3 == -1 || t._3 / kInner != t._2 / kInner),
      "cluster2 must come from a different coarse cell")
    // kSuper = 1: no second cell exists — cluster2 is null everywhere
    val synth = (0L until 50L).map { i =>
      (i, Array.tabulate(4)(j => math.sin(i * 0.31 + j)))
    }.toDF("vec_id", "embedding")
    val one = Clustering.kmeansTwoLevel(synth, kSuper = 1, kInner = 4, iters = 1,
      softCandidates = true)
    assert(one.filter(col("cluster2").isNotNull).count() == 0,
      "kSuper=1 has no second coarse cell")
  }

  test("kmeansTwoLevel: fused inner argmin equals the joined struct-min path") {
    // the r14 fence: the broadcast threshold off forces the shuffle-hash
    // join + struct-min formulation; the default (fused broadcast argmin)
    // must reproduce it
    // cell for cell — primary AND soft cluster2 — on the real corpus and
    // on a tie-heavy synthetic (duplicate vectors force inner-distance ties)
    def run(df: org.apache.spark.sql.DataFrame, soft: Boolean): Seq[(Long, Int, Int)] =
      Clustering.kmeansTwoLevel(df, kSuper = 4, kInner = 4, iters = 2,
          softCandidates = soft)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          if (soft && r.isNullAt(2)) -1 else if (soft) r.getInt(2) else -2))
        .sortBy(_._1).toSeq
    def both(df: org.apache.spark.sql.DataFrame, soft: Boolean): Unit = {
      val fused = run(df, soft)
      val joined = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(run(df, soft))
      assert(fused == joined, s"fused inner argmin != joined (soft=$soft)")
    }
    both(emb, soft = false)
    both(emb, soft = true)
    val ties = (0L until 60L).map { i =>
      // only 5 distinct vectors over 60 ids: ties everywhere
      (i, Array.tabulate(4)(j => math.sin((i % 5) * 0.7 + j)))
    }.toDF("vec_id", "embedding")
    both(ties, soft = false)
    both(ties, soft = true)
  }

  test("pageRank: hand-computed integer ranks on a triangle + pendant") {
    // triangle 1-2-3 plus pendant 4 attached to 3, undirected;
    // expected values replayed by hand (floor arithmetic):
    //   pr2 = {1: 1038957, 2: 1038957, 3: 1247915, 4: 674166}
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("doc_id_a", "doc_id_b")
    val got = GraphRank.pageRankUndirected(pairs, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1038957L, 2L -> 1038957L, 3L -> 1247915L, 4L -> 674166L))
  }

  test("pageRank: result is independent of edge partitioning") {
    val pairs = (0L until 60L).map(i => (i, (i * 7 + 1) % 60))
      .toDF("doc_id_a", "doc_id_b")
    def run(parts: Int): Map[Long, Long] =
      GraphRank.pageRankUndirected(pairs.repartition(parts), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == run(7), "integer rank must not depend on partition order")
  }

  test("pageRank: higher-degree hub outranks leaves on a star") {
    val pairs = (2L to 9L).map(i => (1L, i)).toDF("doc_id_a", "doc_id_b")
    val got = GraphRank.pageRankUndirected(pairs, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 9L).forall(l => got(1L) > got(l)),
      s"hub must outrank every leaf: $got")
  }
}
