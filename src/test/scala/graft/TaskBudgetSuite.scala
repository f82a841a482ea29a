package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Classifier, Dedup, LangModel}

/** Task-count and cache-release gates for the operators that size their own
  * exchanges and caches: at Spark's default of 200 shuffle partitions (a
  * library caller's session, AQE on), a ~200-document corpus must not pay
  * 200-task stages, and the operators that release their caches must leave
  * the persisted-RDD count as they found it.
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
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "200")
      try {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val (rows, tasks) = ExecProbe.tasks(spark)(op().collect())
        info(s"${rows.length} rows, $tasks tasks")
        assert(rows.nonEmpty)
        assert(tasks < MaxTasks, s"$name ran $tasks tasks")
        // compared by id: Spark's ContextCleaner may free older RDDs meanwhile
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        if (releases) assert(left.isEmpty, s"$name left RDDs ${left.mkString(", ")} persisted")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
}
