package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils

/** The one budget for what an operator reads onto the driver or
  * broadcasts instead of running distributed:
  * `spark.sql.autoBroadcastJoinThreshold`, the bytes Spark itself collects
  * to the driver and ships to every executor when it broadcasts a
  * relation. Each collect-or-distribute gate states the width of its rows
  * and reads the row count that fits:
  *   - 16 bytes (two 8-byte values): the LSH capped set and
  *     `Dedup.connectedComponents`' pair list;
  *   - the LSH operators' per-doc signatures, gated on the optimizer's
  *     size estimate ([[fitsEstimate]]) and read in bytes (each partition
  *     stops at its share of the budget): `Dedup.minhashNearDuplicates` at
  *     8 bytes per id, per band key and per shingle fingerprint,
  *     `Dedup.simhashNearDuplicates` at 16 bytes (id and signature) and
  *     `Dedup.simhashNearDuplicatesWide` at 24 (id and two signatures);
  *     then their candidate pairs at 24 bytes (two ids and a score),
  *     counted from the bucket sizes before any is built;
  *   - 8 bytes per id and per component: `Clustering.kmeans`' quantized
  *     vectors, first gated on the size estimate too;
  *   - 8 bytes for the cell, the index and each component:
  *     `Clustering.kmeansTwoLevel`'s kSuper × kInner inner centroids, which
  *     its fused inner assignment broadcasts;
  *   - Spark's estimated width of a (string, string, bigint) row, 56
  *     bytes (the `rows` of a frame): `LangModel.scoreBigramLmFused`'s
  *     pair counts, trained on the driver, and past them its Spark-trained
  *     (w1, w2, w_micro) model, collected into the broadcast probe;
  *   - Spark's estimated width of a (string, bigint) row, 36 bytes:
  *     `Classifier.trainAndScoreNaiveBayes`' (token, w_micro) model,
  *     collected into its broadcast probe;
  *   - 650 bytes a word, the driver heap measured per collected word:
  *     `Bpe.learnMerges`' capped vocabulary, merged on the driver.
  * A threshold <= 0 (Spark's "never broadcast") turns every driver and
  * broadcast path off.
  */
private[graft] object DriverBudget {

  /** The budget in bytes; <= 0 when the driver paths are off. */
  def bytes(spark: SparkSession): Long = spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Rows of `width` bytes that fit [[bytes]], kept below `Int.MaxValue`
    * so that `limit(rows + 1)` can test them; 0 when the threshold is <= 0.
    */
  def rows(spark: SparkSession, width: Long): Int = {
    require(width > 0, s"DriverBudget.rows: width must be positive, got $width")
    math.max(0L, math.min(bytes(spark) / width, Int.MaxValue - 1L)).toInt
  }

  /** [[rows]] at Spark's estimated width of a row of `df`: 8 bytes of
    * row overhead plus each column type's default size
    * (`EstimationUtils.getSizePerRow`; a string counts 20 bytes).
    */
  def rows(df: DataFrame): Int =
    rows(df.sparkSession, EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output).toLong)

  /** Whether the optimizer's size estimate of `df` fits [[bytes]]: the
    * statistic and the comparison Spark's own broadcast choice makes.
    */
  def fitsEstimate(df: DataFrame): Boolean = {
    val budget = bytes(df.sparkSession)
    budget > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= budget
  }
}
