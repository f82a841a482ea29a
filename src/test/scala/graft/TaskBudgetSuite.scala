package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Classifier, Clustering, Dedup, LangModel}

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

  // The LSH operators return an eager checkpoint of their pairs: the
  // result owns its checkpoint blocks (freed by Spark's ContextCleaner),
  // so the persisted-RDD count above cannot tell a released cache from a
  // result. Their caches are counted in the cache manager instead, on both
  // dispatches (capped set, and the kept-vector fallback the broadcast
  // threshold's -1 forces), with a caller's cache of the input in place.
  private val lshOps = Seq[(String, () => DataFrame, DataFrame => DataFrame)](
    ("minhashNearDuplicates", () => docs, Dedup.minhashNearDuplicates(_, threshold = 0.5, maxBucket = 3)),
    ("simhashNearDuplicates", () => docs, Dedup.simhashNearDuplicates(_, maxHamming = 12, maxBucket = 3)),
    ("simhashNearDuplicatesWide", () => docs,
      Dedup.simhashNearDuplicatesWide(_, maxHamming = 40, maxBucket = 3)),
    // one band: the fallback is the join against the bucket sizes
    ("embeddingNearDuplicates", () => emb,
      Dedup.embeddingNearDuplicates(_, minCosine = 0.3, planes = 4, maxBucket = 8)))

  for ((name, in, op) <- lshOps; (dispatch, threshold) <- Seq(
      "capped set" -> None, "kept-vector fallback" -> Some("-1")))
    test(s"$name [$dispatch]: cache manager left as found") {
      spark.catalog.clearCache()
      val input = in().persist()
      try {
        val rows = threshold.fold(op(input).collect())(t =>
          withConf("spark.sql.autoBroadcastJoinThreshold", t)(op(input).collect()))
        info(s"${rows.length} rows")
        assert(rows.nonEmpty)
        assert(input.storageLevel != StorageLevel.NONE, s"$name dropped the caller's cache")
      } finally input.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left cache manager entries")
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
  // per size decision; each budget sits below it. Inputs are built first,
  // so only the operator and the read of its result are counted
  private val jobOps = Seq[(String, Int, () => DataFrame, DataFrame => DataFrame)](
    ("connectedComponents", 1, () => localPairs, Dedup.connectedComponents(_)), // [8]
    ("scoreBigramLmFused", 10, () => docs, LangModel.scoreBigramLmFused(_)), // [15]
    ("kmeans(iters = 2)", 7, () => emb, Clustering.kmeans(_, k = 8, iters = 2)), // [10]
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
}
