package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Bpe, Classifier, Clustering, Dedup, DriverBudget, LangModel}

/** Task-count, job-count and cache-release gates for the operators that
  * size their own exchanges and caches: at Spark's default of 200 shuffle
  * partitions (a library caller's session, AQE on), a ~200-document corpus
  * must not pay 200-task stages, the operators that release their caches
  * must leave the persisted-RDD count as they found it, and the operators
  * that decide a fixpoint or a size gate must not pay a job per decision.
  */
class TaskBudgetSuite extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    .filter(col("doc_id") <= 200)

  private val MaxTasks = 60

  private val ops = Seq[(String, Boolean, () => DataFrame)](
    ("minhashNearDuplicates", false,
      () => Dedup.minhashNearDuplicates(docs, threshold = 0.7, bands = 8, rows = 4)),
    ("simhashNearDuplicates", false, () => Dedup.simhashNearDuplicates(docs, maxHamming = 6)),
    ("scoreBigramLmFused", true, () => LangModel.scoreBigramLmFused(docs)),
    ("trainAndScoreNaiveBayes", true,
      () => Classifier.trainAndScoreNaiveBayes(docs, col("lang") === "en")))

  for ((name, releases, op) <- ops)
    test(s"$name: under $MaxTasks tasks at 200 shuffle partitions" +
      (if (releases) ", caches released" else "")) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      withConf("spark.sql.shuffle.partitions", "200") {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (rows, tasks) = ExecProbe.tasks(spark)(op().collect())
        info(s"${rows.length} rows, $tasks tasks")
        assert(rows.nonEmpty)
        assert(tasks < MaxTasks, s"$name ran $tasks tasks")
        // compared by id: Spark's ContextCleaner may free older RDDs meanwhile
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        if (releases) assert(left.isEmpty, s"$name left RDDs ${left.mkString(", ")} persisted")
      }
    }

  // The LSH operators return an eager checkpoint of their pairs when they
  // run distributed: the result owns its checkpoint blocks (freed by
  // Spark's ContextCleaner), so the persisted-RDD count above cannot tell a
  // released cache from a result. Their caches are counted in the cache
  // manager instead, on every dispatch (the capped set; the kept-vector
  // fallback the broadcast threshold's -1 forces; the driver path, which
  // also leaves the persisted RDDs as found), with a caller's cache of the
  // input in place. The second field is the operator's driver-path read
  // width (0: no driver path): the capped-set case sets the threshold to
  // that many bytes for every input row but one, which the signature read
  // cannot fit but the 16-byte capped set of these calls does.
  private val lshOps = Seq[(String, Int, () => DataFrame, DataFrame => DataFrame)](
    ("minhashNearDuplicates", 80, () => docs,
      Dedup.minhashNearDuplicates(_, threshold = 0.5, maxBucket = 3)),
    ("simhashNearDuplicates", 16, () => docs,
      Dedup.simhashNearDuplicates(_, maxHamming = 12, maxBucket = 3)),
    ("simhashNearDuplicatesWide", 24, () => docs,
      Dedup.simhashNearDuplicatesWide(_, maxHamming = 40, maxBucket = 3)),
    // one band: the fallback is the join against the bucket sizes
    ("embeddingNearDuplicates", 0, () => emb,
      Dedup.embeddingNearDuplicates(_, minCosine = 0.3, planes = 4, maxBucket = 8)))

  for ((name, width, in, op) <- lshOps;
       dispatch <- Seq("capped set", "kept-vector fallback", "driver path")
       if dispatch != "driver path" || width > 0)
    test(s"$name [$dispatch]: cache manager left as found") {
      val threshold = dispatch match {
        case "capped set" if width > 0 => Some((width.toLong * (in().count() - 1)).toString)
        case "kept-vector fallback" => Some("-1")
        case _ => None
      }
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val input = in().persist()
      val out = try {
        val out = threshold.fold(op(input))(t =>
          withConf("spark.sql.autoBroadcastJoinThreshold", t)(op(input)))
        val rows = out.collect()
        info(s"${rows.length} rows")
        assert(rows.nonEmpty)
        assert(input.storageLevel != StorageLevel.NONE, s"$name dropped the caller's cache")
        out
      } finally input.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cache manager entries")
      val plan = out.queryExecution.optimizedPlan
      if (dispatch == "driver path") {
        assert(plan.isInstanceOf[LocalRelation], s"$name ran distributed")
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, s"$name left RDDs ${left.mkString(", ")} persisted")
      } else if (width > 0) assert(plan.isInstanceOf[LogicalRDD], s"$name ran on the driver")
    }

  test("ngramJaccardPairs: cache manager left as found") {
    spark.catalog.clearCache()
    val input = docs.persist()
    try {
      val rows = Dedup.ngramJaccardPairs(input, threshold = 0.5).collect()
      info(s"${rows.length} rows")
      assert(rows.nonEmpty)
      assert(input.storageLevel != StorageLevel.NONE, "ngramJaccardPairs dropped the caller's cache")
    } finally input.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty, "ngramJaccardPairs left cache manager entries")
  }

  // semanticDedup's result is an eager checkpoint too: its input cache
  // (auto-k) and its clustered-vector cache are released before it
  // returns, and a caller's cache of the input stays in place
  for ((mode, k) <- Seq("flat k" -> 8, "auto-k" -> 0))
    test(s"semanticDedup [$mode]: cache manager left as found") {
      def run(in: DataFrame) = Dedup.semanticDedup(in, k = k, minCosine = 0.3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq.sorted
      spark.catalog.clearCache()
      val rows = run(emb)
      info(s"${rows.length} rows")
      assert(rows.nonEmpty)
      assert(spark.sharedState.cacheManager.isEmpty, "semanticDedup left cache manager entries")
      val input = emb.persist()
      try {
        assert(run(input) == rows)
        assert(input.storageLevel != StorageLevel.NONE, "semanticDedup dropped the caller's cache")
      } finally input.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty, "semanticDedup left cache manager entries")
    }

  // the embeddings table beside the documents table
  private lazy val emb = spark.read.parquet(docs.inputFiles.head.replace("documents", "embeddings"))
    .filter(col("vec_id") < 200)

  // a candidate-pair list already on the driver, as perfbench's corpus pass
  // and any caller that collected its pairs hands it over
  private lazy val localPairs = {
    val ps = Dedup.minhashNearDuplicates(docs, threshold = 0.7, bands = 8, rows = 4)
      .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.createDataFrame(ps.toSeq).toDF("doc_id_a", "doc_id_b")
  }

  // in brackets: the jobs the same calls cost with one job per round or
  // per size decision, then (LM, k-means) the budget they had while they
  // trained in Spark at this size, and (minhash, simhash) what their
  // distributed band join costs here; each budget sits below them. Inputs are
  // built first, so only the operator and the read of its result are counted
  private val jobOps = Seq[(String, Int, () => DataFrame, DataFrame => DataFrame)](
    ("minhashNearDuplicates", 1, () => docs,
      Dedup.minhashNearDuplicates(_, threshold = 0.7, bands = 8, rows = 4)), // [11]
    ("simhashNearDuplicates", 1, () => docs, Dedup.simhashNearDuplicates(_, maxHamming = 6)), // [9]
    ("connectedComponents", 1, () => localPairs, Dedup.connectedComponents(_)), // [8]
    ("scoreBigramLmFused", 4, () => docs, LangModel.scoreBigramLmFused(_)), // [15, 10]
    ("kmeans(iters = 2)", 2, () => emb, Clustering.kmeans(_, k = 8, iters = 2)), // [10, 7]
    ("trainAndScoreNaiveBayes", 9, () => docs, // [12]
      Classifier.trainAndScoreNaiveBayes(_, col("lang") === "en")))

  for ((name, budget, input, op) <- jobOps)
    test(s"$name: at most $budget jobs at 200 shuffle partitions") {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      withConf("spark.sql.shuffle.partitions", "200") {
        val in = input()
        val (rows, jobs) = ExecProbe.jobs(spark)(op(in).collect())
        info(s"${rows.length} rows, $jobs jobs")
        assert(rows.nonEmpty)
        assert(jobs <= budget, s"$name ran $jobs jobs")
      }
    }

  // the driver paths of the LM trainer and k-means at the default broadcast
  // threshold: the LM's pair-count cache is released before the scorer
  // returns, and k-means leaves nothing cached
  private val driverOps = Seq[(String, () => DataFrame)](
    ("scoreBigramLmFused", () => LangModel.scoreBigramLmFused(docs)),
    ("kmeans(iters = 2)", () => Clustering.kmeans(emb, k = 8, iters = 2)))

  for ((name, op) <- driverOps)
    test(s"$name [driver path]: persisted RDDs and cache manager left as found") {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rows = op().collect()
      info(s"${rows.length} rows")
      assert(rows.nonEmpty)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name left RDDs ${left.mkString(", ")} persisted")
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cache manager entries")
    }

  // The off-switch census: every DriverBudget gate, on a small input, takes
  // its driver or broadcast path at the default threshold and its
  // distributed path with the threshold off. The last field reads the path
  // taken from the result, the jobs its call and read ran, and the shuffle
  // exchanges they ran.
  private def onDriver(out: DataFrame): Boolean = out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  // the scorers' join paths explode the documents' tokens; the broadcast
  // probes score each document in one projection
  private def noExplode(out: DataFrame): Boolean =
    !out.queryExecution.optimizedPlan.exists(_.isInstanceOf[Generate])
  private val census = Seq[(String, () => DataFrame, DataFrame => DataFrame,
      (DataFrame, Long, Seq[ExecProbe.Exchange]) => Boolean)](
    ("minhashNearDuplicates", () => docs,
      Dedup.minhashNearDuplicates(_, threshold = 0.7, bands = 8, rows = 4), (o, _, _) => onDriver(o)),
    ("simhashNearDuplicates", () => docs, Dedup.simhashNearDuplicates(_, maxHamming = 6),
      (o, _, _) => onDriver(o)),
    ("simhashNearDuplicatesWide", () => docs, Dedup.simhashNearDuplicatesWide(_, maxHamming = 12),
      (o, _, _) => onDriver(o)),
    ("connectedComponents", () => localPairs, Dedup.connectedComponents(_), (o, _, _) => onDriver(o)),
    ("kmeans", () => emb, Clustering.kmeans(_, k = 8, iters = 2), (o, _, _) => onDriver(o)),
    // the driver trainer's jobs budget above; the Spark trainer runs more
    ("scoreBigramLmFused trainer", () => docs, LangModel.scoreBigramLmFused(_), (_, j, _) => j <= 4),
    ("scoreBigramLmFused scorer", () => docs, LangModel.scoreBigramLmFused(_), (o, _, _) => noExplode(o)),
    ("trainAndScoreNaiveBayes scorer", () => docs,
      Classifier.trainAndScoreNaiveBayes(_, col("lang") === "en"), (o, _, _) => noExplode(o)),
    // the joined inner assignment groups every vector by its id for the
    // struct-min; the fused one is a projection
    ("kmeansTwoLevel inner assignment", () => emb,
      Clustering.kmeansTwoLevel(_, kSuper = 2, kInner = 4, iters = 1),
      (_, _, xs) => !xs.exists(_.keys == Seq("vec_id"))),
    // the distributed rounds run a pair-count job and a checkpoint each
    ("learnMerges", () => docs, Bpe.learnMerges(_, nMerges = 5), (_, j, _) => j < 5))

  test("off-switch census: every DriverBudget gate off at threshold -1") {
    val wrong = for ((name, input, op, driverPath) <- census; threshold <- Seq(None, Some("-1"))) yield {
      val in = input()
      def run() = ExecProbe.exchanges(spark)(ExecProbe.jobs(spark) {
        val out = op(in)
        out.collect()
        out
      })
      val ((out, jobs), xs) = threshold.fold(run())(withConf("spark.sql.autoBroadcastJoinThreshold", _)(run()))
      val onDriverPath = driverPath(out, jobs, xs)
      val at = s"$name, threshold ${threshold.getOrElse("default")}: $jobs jobs"
      info(s"$at, ${if (onDriverPath) "driver or broadcast" else "distributed"} path")
      Option.when(onDriverPath != threshold.isEmpty)(s"$at, exchanges $xs")
    }
    assert(wrong.flatten.isEmpty, s"wrong path: ${wrong.flatten.mkString("; ")}")
  }

  test("DriverBudget: rows of a width, none with the threshold off, below Int.MaxValue") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    withConf(key, "1600") {
      assert(DriverBudget.rows(spark, 16) == 100)
      assert(DriverBudget.rows(spark, 56) == 28)
      assert(DriverBudget.rows(spark, 1601) == 0)
      // Spark's estimated widths: (string, string, bigint) 56 bytes, (string, bigint) 36
      assert(DriverBudget.rows(spark.range(1).selectExpr("'a' AS w1", "'b' AS w2", "id AS c")) == 28)
      assert(DriverBudget.rows(spark.range(1).selectExpr("'a' AS token", "id AS w")) == 44)
    }
    for (off <- Seq("-1", "0")) withConf(key, off) {
      assert(DriverBudget.rows(spark, 16) == 0, s"threshold $off")
      assert(!DriverBudget.fitsEstimate(emb), s"threshold $off")
    }
    withConf(key, Long.MaxValue.toString) {
      assert(DriverBudget.rows(spark, 1) == Int.MaxValue - 1)
      assert(DriverBudget.rows(spark, 16) == Int.MaxValue - 1)
    }
    intercept[IllegalArgumentException](DriverBudget.rows(spark, 0))
  }
}
