package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** Eagerly materialized caches for the shuffled, vocabulary-sized count
  * frames ([[LangModel.scoreBigramLmFused]]'s pair counts,
  * [[Classifier.trainAndScoreNaiveBayes]]'s token counts) that an
  * operator builds once and then reads several times.
  *
  * Why not `persist()`: Spark 4.1 keeps a persisted plan's output
  * partitioning (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * defaults to false), so AQE may not coalesce the final shuffle of a
  * cached aggregate — the cache holds `spark.sql.shuffle.partitions`
  * partitions whatever its size, and every read of it runs that many
  * tasks (a 5,000-group aggregate: 200 partitions at Spark's default). An
  * eager `localCheckpoint` runs the same plan as an ordinary AQE query, so
  * the cache lands in the partitions AQE sized from the data (that
  * aggregate: 1). With AQE off it keeps the session width, as before.
  *
  * The row count [[build]] observes is what sizes the reads that follow.
  * The LM's pair counts are read back to the driver in one collect when
  * that count fits [[DriverBudget]] (`LangModel.scoreBigramLmFused`
  * trains on the driver and releases the cache before it returns); above
  * it, and for the Naive Bayes token counts, Spark plans read the cache.
  */
private[graft] object EagerCache {

  /** Run `df` once and keep its rows (memory and disk, lineage cut).
    * Returns the cache and its row count, observed inside the build job
    * (`Dataset.observe`), so a size decision needs no second pass.
    */
  def build(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cache = df.observe(rows, count(lit(1)).as("n")).localCheckpoint(eager = true)
    (cache, rows.get("n").asInstanceOf[Long])
  }

  /** Free the blocks of a frame made by [[build]]. A checkpoint has no
    * lineage to recompute from, so call this only once no plan that is
    * still to run reads the frame; otherwise leave the blocks to Spark's
    * ContextCleaner, which frees them when the last reader is collected.
    */
  def release(cache: DataFrame): Unit = cache.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
