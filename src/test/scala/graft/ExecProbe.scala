package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code made Spark run: the shuffle exchanges of
  * every query it executed (final adaptive plans), its task count and its
  * job count.
  */
object ExecProbe extends AdaptiveSparkPlanHelper {

  /** A shuffle exchange: its origin, partition count and the columns it
    * hashes on, e.g. Exchange("REPARTITION_BY_NUM", 200, Seq("doc_id_a")).
    */
  case class Exchange(origin: String, width: Int, keys: Seq[String])

  def exchanges[T](spark: SparkSession)(f: => T): (T, Seq[Exchange]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val r = f
      TestBus.drain(spark.sparkContext)
      (r, plans.asScala.toSeq.flatMap(p => collectWithSubqueries(p) {
        case e: ShuffleExchangeExec =>
          Exchange(e.shuffleOrigin.toString, e.outputPartitioning.numPartitions,
            e.outputPartitioning match {
              case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
              case _ => Nil
            })
      }))
    } finally spark.listenerManager.unregister(l)
  }

  def tasks[T](spark: SparkSession)(f: => T): (T, Long) = counted(spark, jobs = false)(f)

  /** The Spark jobs `f` ran: each collect, count or eager checkpoint is
    * at least one, and with AQE on every shuffle or broadcast stage is one
    * more.
    */
  def jobs[T](spark: SparkSession)(f: => T): (T, Long) = counted(spark, jobs = true)(f)

  /** The bytes each job `f` ran sent the driver as task results, in job
    * order.
    */
  def resultBytes[T](spark: SparkSession)(f: => T): (T, Seq[Long]) = {
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        bytes.put(e.jobId, new AtomicLong)
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (m <- Option(e.taskMetrics) if stageJob.containsKey(e.stageId))
          bytes.get(stageJob.get(e.stageId)).addAndGet(m.resultSize)
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      TestBus.drain(spark.sparkContext)
      (r, bytes.asScala.toSeq.sortBy(_._1).map(_._2.get))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def counted[T](spark: SparkSession, jobs: Boolean)(f: => T): (T, Long) = {
    val n = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!jobs) n.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit = if (jobs) n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      TestBus.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
