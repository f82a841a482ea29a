package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one budget for what an operator reads onto the driver instead of
  * running distributed: `spark.sql.autoBroadcastJoinThreshold`, the bytes
  * Spark itself collects to the driver and ships to every executor when
  * it broadcasts a relation. Each collect-or-distribute gate states the
  * width of its rows and reads the row count that fits:
  *   - 16 bytes (two 8-byte values): the LSH capped set and
  *     `Dedup.connectedComponents`' pair list;
  *   - Spark's estimated width of a (string, string, bigint) row:
  *     `LangModel.scoreBigramLmFused`'s pair counts;
  *   - 8 bytes per id and per component: `Clustering.kmeans`' quantized
  *     vectors, which are first gated on the optimizer's size estimate
  *     ([[fitsEstimate]]);
  *   - the LSH operators' per-doc signatures, gated the same way and read
  *     in bytes (each partition stops at its share of the budget):
  *     `Dedup.minhashNearDuplicates` at 8 bytes per id, per band key and
  *     per shingle fingerprint, `Dedup.simhashNearDuplicates` at 16 bytes
  *     (id and signature) and `Dedup.simhashNearDuplicatesWide` at 24 (id
  *     and two signatures); then their candidate pairs at 24 bytes (two
  *     ids and a score), counted from the bucket sizes before any is built.
  * A threshold <= 0 (Spark's "never broadcast") turns every driver path off.
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

  /** Whether the optimizer's size estimate of `df` fits [[bytes]]: the
    * statistic and the comparison Spark's own broadcast choice makes.
    */
  def fitsEstimate(df: DataFrame): Boolean = {
    val budget = bytes(df.sparkSession)
    budget > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= budget
  }
}
