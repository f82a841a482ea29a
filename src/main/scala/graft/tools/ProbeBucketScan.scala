package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A/B: do non-join queries regress when the fact temp views point at the
  * bucketed tables? Times a scan-heavy aggregate (m_countdistinct), a
  * window over orders (q_window_fn) and the join the layout exists for
  * (q_join_agg), plain vs bucketed, same JVM, interleaved runs.
  *
  * Usage: runMain graft.tools.ProbeBucketScan [sfDir] [interleaveRounds]
  * (rounds default 2; pass 1 at 1000× so the probe stays ~20 min).
  * The session runs on [[graft.Bench.cpus]] cores, as Bench does.
  */
object ProbeBucketScan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/bench_sf10")
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .master(s"local[${graft.Bench.cpus}]")
      // static width must scale with data (AQE merges below it but cannot
      // split a hash-agg): 128 is right at 100×; at 1000× pass 512 via env
      // (128 OOMed a 4.7M-rows/task aggregate on the default heap)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queries = Seq("m_countdistinct", "q_window_fn", "q_join_agg")

    var phase = "init"
    def run(bucketed: Boolean): Map[String, Double] = {
      phase = s"engineFor(bucketed=$bucketed)"; println(s"[bucket-scan:phase] $phase")
      spark.conf.set("graft.layout.bucketed", bucketed.toString)
      SparkEntry.engineFor(spark, dir) // (re)registers the temp views
      queries.map { q =>
        phase = s"$q bucketed=$bucketed"; println(s"[bucket-scan:phase] $phase")
        def once(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm
        q -> math.min(once(), once())
      }.toMap
    }

    run(bucketed = true) // pay the one-time ingest + JIT outside the timings
    // interleave to cancel drift on a noisy machine
    val pairs = (1 to rounds).map(_ => (run(bucketed = false), run(bucketed = true)))
    for (q <- queries) {
      val p = pairs.map(_._1(q)).min
      val b = pairs.map(_._2(q)).min
      println(f"[bucket-scan] $q%-16s plain=$p%6.2f s  bucketed=$b%6.2f s  (b/p=${b / p}%4.2f)")
    }
    spark.stop()
  }
}
