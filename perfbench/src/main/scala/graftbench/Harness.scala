package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import org.apache.spark.graftbench.Bus

import graft.{GraftEngine, SparkEntry}

/** One op of the stream, as written by gen.py. */
final case class Op(id: String, kind: String, sql: String, twin: Option[String],
                    view: Option[String], measures: Seq[String], table: Option[String])

/** What one timed op left behind: latency, result rows kept for the
  * post-run check, and the error if it threw.
  */
final class OpRun(val op: Op, val pass: Int) {
  var startUs = 0L
  var endUs = 0L
  var rows: Seq[Row] = Nil
  var rowsOut = 0L
  var digest = 0L
  var extra = 0L
  var error: Option[String] = None
  var wrong: Option[String] = None
  var root = -1
  var buildUs = 0L
  var execUs = 0L
  var plan: Map[String, Long] = Map.empty
  def latUs: Long = endUs - startUs
  def ok: Boolean = error.isEmpty && wrong.isEmpty
}

object PlanShape extends AdaptiveSparkPlanHelper {
  def counts(p: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(p) { case n => n }
    Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toLong,
      "scans" -> nodes.count(n => n.children.isEmpty && n.nodeName.contains("Scan")).toLong)
  }
}

/** The benchmark's JVM side: set-up, the timed closed loop, the post-run
  * result check, and the metrics. Run through perfbench/run.py.
  */
object Harness {
  private val OpKey = "graftbench.op"
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val trace = a("trace") == "1"
    val setups = a("setups").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    val spark = SparkSession.builder().master(s"local[${a("cores")}]").appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(a("work"), "warehouse").toUri.toString)
      .config("spark.local.dir", Paths.get(a("work"), "spark-local").toString)
      .config("graft.layout.bucketed", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ops = Files.readAllLines(Paths.get(data, "ops.jsonl")).asScala.toSeq.map { l =>
      val m = json.readValue(l, classOf[Map[String, Any]])
      Op(m("id").toString, m("kind").toString, m("sql").toString, m.get("twin").map(_.toString),
        m.get("view").map(_.toString), m.getOrElse("measures", Nil).asInstanceOf[Seq[Any]].map(_.toString),
        m.get("table").map(_.toString))
    }
    val wl: Workload = workload match {
      case "corpus" => new CorpusWorkload(data, a("passes").toInt)
      case _ => new EngineWorkload(data, ops.filter(_.kind == "setup").map(_.sql))
    }

    // Set-up, several times in one JVM, each in a fresh session over the
    // same deployment. The first also pays JVM and Spark start, the one-time
    // bucketed ingest and cold code; setup_s is the median.
    val setupRecs = (1 to setups).map { k =>
      val t0 = if (k == 1) jvmStartMs * 1000L else Clock.nowUs
      val prep = wl.prepare(if (k == 1) spark else spark.newSession())
      val w0 = Clock.nowUs
      wl.warmup(first = k == 1)
      val end = Clock.nowUs
      Map("total_s" -> (end - t0) / 1e6, "prepare_s" -> prep, "warmup_s" -> (end - w0) / 1e6)
    }
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    val sc = spark.sparkContext
    val listener = if (trace) Some(new OpListener(OpKey)) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer
    val gcBefore = gcMs()

    val runs = mutable.ArrayBuffer.empty[OpRun]
    val regionStart = Clock.nowUs
    for ((op, pass) <- wl.stream(ops)) {
      val r = new OpRun(op, pass)
      sc.setLocalProperty(OpKey, s"${op.id}.$pass")
      r.root = tracer.newId()
      r.startUs = Clock.nowUs
      try wl.run(r, if (trace) Some(tracer) else None)
      catch { case e: Throwable => r.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)) }
      r.endUs = Clock.nowUs
      sc.setLocalProperty(OpKey, null)
      if (trace) tracer.add(r.root, s"${op.id}.$pass", -1, "op", r.startUs, r.endUs)
      runs += r
    }
    val regionUs = Clock.nowUs - regionStart
    val gcRegion = gcMs() - gcBefore
    // Spark's ContextCleaner frees broadcast and checkpoint blocks only
    // after a GC has cleared their references, on its own thread: collect,
    // let it run, and collect again, so the reading is the live heap.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val session = wl.session
    val driverState = Map(
      "driver.persisted_rdds_end" -> sc.getPersistentRDDs.size.toDouble,
      "driver.cached_tables_end" -> session.catalog.listTables().collect()
        .count(t => scala.util.Try(session.catalog.isCached(t.name)).getOrElse(false)).toDouble,
      "driver.temp_views_end" -> session.catalog.listTables().collect().count(_.isTemporary).toDouble)
    val loadAfter = os.getSystemLoadAverage

    val v0 = Clock.nowUs
    wl.verify(runs.toSeq)
    val verifyS = (Clock.nowUs - v0) / 1e6

    val e2e = Metrics.endToEnd(workload, runs.toSeq, regionUs, setupRecs.map(_("total_s")), heapMb, wl)
    val layers = listener.map { l =>
      Bus.drain(sc)
      Metrics.perLayer(runs.toSeq, tracer, l, wl, driverState, gcRegion, jitMs, sparkStartS, setupRecs)
    }
    val failed = runs.filterNot(_.ok)
    val artifact = Map(
      "workload" -> workload, "seed" -> a("seed"), "trace" -> trace,
      "provenance" -> (json.readValue(a("prov"), classOf[Map[String, Any]]) ++ Map(
        "jvm_load_avg_before" -> loadBefore, "jvm_load_avg_after" -> loadAfter,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "spark_version" -> spark.version,
        "spark_conf" -> spark.conf.getAll,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)),
      "setups" -> setupRecs,
      "region_s" -> regionUs / 1e6, "verify_s" -> verifyS,
      "metrics" -> e2e,
      "per_layer" -> layers.map(_._1).getOrElse(Map.empty),
      "purpose" -> layers.map(_._2).getOrElse(Map.empty),
      "attempted" -> runs.size, "failed" -> failed.size,
      "failures" -> failed.map(r => Map("op" -> r.op.id, "pass" -> r.pass, "kind" -> r.op.kind,
        "sql" -> r.op.sql, "error" -> r.error.orElse(r.wrong).get)),
      "ops" -> runs.map(r => Map("op" -> r.op.id, "pass" -> r.pass, "kind" -> r.op.kind,
        "ms" -> r.latUs / 1000.0, "ok" -> r.ok, "rows" -> r.rowsOut, "digest" -> r.digest)))
    json.writeValue(new java.io.File(a("artifact")), artifact)
    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(a("artifact").stripSuffix(".json") + ".spans.jsonl"))
      try layers.get._3.foreach(s => { w.write(json.writeValueAsString(s)); w.newLine() })
      finally w.close()
    }
    spark.stop()
    val out = Map("correct" -> failed.isEmpty, "attempted" -> runs.size, "failed" -> failed.size,
      "metrics" -> (if (trace) layers.get._1 else e2e.filterNot(_._1.startsWith("artifact."))).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })
    println(json.writeValueAsString(out))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Run `body` as a child span of the op when tracing. */
  def span[T](t: Option[Tracer], r: OpRun, name: String)(body: => T): T = t match {
    case Some(tr) => tr.time(s"${r.op.id}.${r.pass}", r.root, name)(body)
    case None => body
  }
}

/** A workload: how to set it up, which ops to run in what order, how to
  * run one op, and how to check the results after the timed region.
  */
trait Workload {
  def session: SparkSession
  /** Set the workload up in session `s`; returns its seconds. */
  def prepare(s: SparkSession): Double
  def warmup(first: Boolean): Unit
  def stream(ops: Seq[Op]): Seq[(Op, Int)]
  def run(r: OpRun, t: Option[Tracer]): Unit
  def verify(runs: Seq[OpRun]): Unit
  def stageNames: Seq[String] = Nil
  def docs: Long = 0L
}

/** `dashboard` and `modeling`: SQL through GraftEngine over the views
  * SparkEntry.engineFor registers.
  */
final class EngineWorkload(data: String, setupSql: Seq[String]) extends Workload {
  var session: SparkSession = _
  var engine: GraftEngine = _

  def prepare(s: SparkSession): Double = {
    session = s
    val t0 = Clock.nowUs
    engine = SparkEntry.engineFor(s, data)
    setupSql.foreach(engine.sql)
    (Clock.nowUs - t0) / 1e6
  }

  def warmup(first: Boolean): Unit = engine.sql(
    "SELECT ship_year, AGGREGATE(parts), ROUND(AGGREGATE(revenue) AT (ALL), 2) FROM li_v GROUP BY ship_year"
  ).collect()

  def stream(ops: Seq[Op]): Seq[(Op, Int)] = ops.filter(_.kind != "setup").map(_ -> 0)

  def run(r: OpRun, t: Option[Tracer]): Unit = {
    import Harness.span
    val op = r.op
    op.kind match {
      case "read" =>
        if (t.isDefined) span(t, r, "planner.expand")(engine.expandSql(op.sql))
        val df = span(t, r, "engine.sql")(engine.sql(op.sql))
        if (t.isDefined) {
          span(t, r, "catalyst.optimize")(df.queryExecution.optimizedPlan)
          span(t, r, "catalyst.plan")(df.queryExecution.executedPlan)
        }
        val s = Clock.nowUs
        r.rows = span(t, r, "exec")(df.collect()).toSeq
        r.execUs = Clock.nowUs - s
        r.rowsOut = r.rows.size
        if (t.isDefined) r.plan = PlanShape.counts(df.queryExecution.executedPlan)
      case "ddl" =>
        if (t.isDefined && !op.sql.startsWith("DROP"))
          span(t, r, "syntax.ddl_parse")(graft.syntax.MeasureDdl.parse(op.sql))
        span(t, r, "engine.sql")(engine.sql(op.sql))
        val got = engine.catalog.get(op.view.get).map(_.measures.map(_.name.toLowerCase).sorted)
        val want = if (op.measures.isEmpty) None else Some(op.measures.sorted)
        if (got != want) r.wrong = Some(s"catalog has $got for ${op.view.get}, expected $want")
      case "ctas" =>
        span(t, r, "engine.sql")(engine.sql(op.sql))
    }
  }

  def verify(runs: Seq[OpRun]): Unit = {
    // each distinct twin runs once; four at a time, as Spark shares the cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val twins = try {
      runs.flatMap(_.op.twin).distinct
        .map(q => q -> pool.submit(() => session.sql(q).collect().toSeq))
        .map { case (q, f) => q -> f.get() }.toMap
    } finally pool.shutdown()
    def twin(q: String) = twins(q)
    for (r <- runs if r.error.isEmpty && r.op.kind == "read") {
      val want = twin(r.op.twin.get)
      r.digest = Check.digest(r.rows)
      if (!Check.same(r.rows, want))
        r.wrong = Some(s"result differs from the plain-SQL twin: got ${Check.norm(r.rows).take(5)}, " +
          s"want ${Check.norm(want).take(5)}")
    }
    // a materialized table holds the rows of every op that wrote into it
    for ((table, writes) <- runs.filter(_.op.kind == "ctas").groupBy(_.op.table.get)) {
      if (writes.forall(_.error.isEmpty)) {
        val got = session.table(table).collect().toSeq
        val want = writes.flatMap(w => twin(w.op.twin.get))
        val last = writes.last
        last.rowsOut = got.size
        last.digest = Check.digest(got)
        if (!Check.same(got, want))
          last.wrong = Some(s"$table differs from its plain-SQL twins: got ${Check.norm(got).take(5)}, " +
            s"want ${Check.norm(want).take(5)}")
      }
      session.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}

object Metrics {
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1).max(0))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of these percentiles that leaves at least ten samples above it. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  /** End-to-end metrics: the reported ones first (name -> (value, unit)),
    * then the per-kind latencies that go only into the artifact.
    */
  def endToEnd(workload: String, runs: Seq[OpRun], regionUs: Long, setups: Seq[Double],
               heapMb: Double, wl: Workload): Map[String, (Double, String)] = {
    val ok = runs.filter(_.ok)
    val lat = runs.map(_.latUs / 1000.0)
    val tp = tailPct(lat.size)
    def kind(k: String) = ok.filter(_.op.kind == k).map(_.latUs / 1000.0)
    val base = Map(
      "setup_s" -> (median(setups), "s"),
      "ops_per_s" -> (ok.size / (regionUs / 1e6), "1/s"),
      "op_p50_ms" -> (median(lat), "ms"),
      "op_tail_ms" -> (pct(lat, tp), "ms"),
      "heap_after_gc_mb" -> (heapMb, "MB"))
    val reads = if (workload == "corpus") Seq.empty else kind("read")
    val extra = mutable.LinkedHashMap[String, (Double, String)](
      "op_tail_pct" -> (tp, "percentile"), "op_count" -> (lat.size.toDouble, "count"),
      "error_rate" -> ((runs.size - ok.size).toDouble / runs.size, "ratio"))
    if (reads.nonEmpty) {
      extra("query_p50_ms") = (median(reads), "ms")
      extra("query_tail_ms") = (pct(reads, tailPct(reads.size)), "ms")
      extra("query_tail_pct") = (tailPct(reads.size), "percentile")
    }
    if (kind("ddl").nonEmpty) {
      extra("ddl_p50_ms") = (median(kind("ddl")), "ms")
      extra("ddl_tail_ms") = (pct(kind("ddl"), tailPct(kind("ddl").size)), "ms")
      extra("ddl_tail_pct") = (tailPct(kind("ddl").size), "percentile")
    }
    if (kind("ctas").nonEmpty) extra("ctas_p50_ms") = (median(kind("ctas")), "ms")
    if (workload == "corpus") {
      val passes = runs.groupBy(_.pass).values.map(_.map(_.latUs / 1e6).sum).toSeq
      extra("pass_p50_s") = (median(passes), "s")
      extra("pass_count") = (passes.size.toDouble, "count")
      extra("docs_per_s") = (wl.docs / median(passes), "1/s")
    }
    extra("setup_first_s") = (setups.head, "s")
    base ++ extra.map { case (k, v) => s"artifact.$k" -> v }
  }

  /** Every per-layer metric; a layer a workload does not reach reads 0. */
  val names: Seq[String] = Seq("planner.expand_ms", "syntax.ddl_parse_ms", "engine.sql_ms",
    "catalyst.optimize_ms", "catalyst.plan_ms", "plan.exchanges", "plan.broadcasts", "plan.scans",
    "exec.wall_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.self_ms", "exec.task_covered_ms",
    "exec.task_wait_ms", "exec.nonempty_tasks", "exec.task_run_ms", "exec.task_cpu_ms", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.task_gc_ms") ++
    CorpusWorkload.stages.flatMap(s => Seq(s"ops.$s.build_ms", s"ops.$s.exec_ms", s"ops.$s.rows_out")) ++
    Seq("ops.minhash.recall", "ops.minhash.precision", "ops.simhash.recall")

  /** Per-layer metrics from the spans and listener events, the purpose
    * checks, and every span (benchmark-side and Spark-side) for the file.
    */
  def perLayer(runs: Seq[OpRun], tracer: Tracer, l: OpListener, wl: Workload,
               driverState: Map[String, Double], gcRegionMs: Long, jitMs: Double,
               sparkStartS: Double, setups: Seq[Map[String, Double]])
      : (Map[String, (Double, String)], Map[String, Any], Seq[Span]) = {
    val spans = mutable.ArrayBuffer.empty[Span] ++= tracer.spans
    val byOp = tracer.spans.groupBy(_.op)
    var nextId = tracer.spans.map(_.id).maxOption.getOrElse(0)
    var violations = 0
    val m = mutable.LinkedHashMap.empty[String, Double]
    names.foreach(m(_) = 0.0)
    var readWallUs, readFrontUs, readSelfUs, readExecUs, readCoveredUs = 0L
    for (r <- runs) {
      val key = s"${r.op.id}.${r.pass}"
      val mine = byOp.getOrElse(key, Nil)
      def dur(n: String) = mine.filter(_.name == n).map(_.durUs).sum
      m("planner.expand_ms") += dur("planner.expand") / 1000.0
      m("syntax.ddl_parse_ms") += dur("syntax.ddl_parse") / 1000.0
      m("engine.sql_ms") += dur("engine.sql") / 1000.0
      m("catalyst.optimize_ms") += dur("catalyst.optimize") / 1000.0
      m("catalyst.plan_ms") += dur("catalyst.plan") / 1000.0
      r.plan.foreach { case (k, v) => m(s"plan.$k") += v }
      val jobs = l.jobs.get(key).map(_.toSeq).getOrElse(Nil)
      val stages = l.stages.get(key).map(_.toSeq).getOrElse(Nil)
      val tasks = l.tasks.get(key).map(_.toSeq).getOrElse(Nil)
      m("exec.jobs") += jobs.size
      m("exec.stages") += stages.size
      m("exec.tasks") += tasks.size
      m("exec.task_run_ms") += tasks.map(_.runMs).sum
      m("exec.task_cpu_ms") += tasks.map(_.cpuNs).sum / 1e6
      m("exec.input_bytes") += tasks.map(_.inBytes).sum
      m("exec.shuffle_read_bytes") += tasks.map(_.shReadBytes).sum
      m("exec.shuffle_write_bytes") += tasks.map(_.shWriteBytes).sum
      m("exec.spill_bytes") += tasks.map(_.spillBytes).sum
      m("exec.task_gc_ms") += tasks.map(_.gcMs).sum
      m("exec.nonempty_tasks") += tasks.count(t => t.inRecords + t.shReadRecords > 0)
      val firstSubmit = stages.groupBy(_.id).map { case (id, ss) => id -> ss.map(_.submitMs).min }
      m("exec.task_wait_ms") += tasks.map(t => (t.launchMs - firstSubmit.getOrElse(t.stage, t.launchMs)).max(0L)).sum
      val execSpans = mine.filter(s => s.name == "exec" || s.name == "engine.sql")
      for (e <- mine.filter(_.name == "exec")) {
        val iv = tasks.map(t => (math.max(t.launchMs * 1000, e.startUs), math.min(t.finishMs * 1000, e.endUs)))
          .filter { case (s, f) => f > s }
        val cov = Intervals.covered(iv)
        m("exec.wall_ms") += e.durUs / 1000.0
        m("exec.task_covered_ms") += cov / 1000.0
        m("exec.self_ms") += (e.durUs - cov) / 1000.0
        if (r.op.kind == "read") { readExecUs += e.durUs; readCoveredUs += cov; readSelfUs += e.durUs - cov }
      }
      if (r.op.kind == "read") {
        readWallUs += r.latUs
        readFrontUs += dur("planner.expand") + dur("engine.sql") + dur("catalyst.optimize") + dur("catalyst.plan")
      }
      // Spark spans under the benchmark span that was open when each job
      // started; 1 ms of slack for the listener's millisecond clock.
      val slack = 1000L
      val jobSpan = mutable.HashMap.empty[Int, Span]
      for (j <- jobs) {
        val parent = execSpans.find(p => j.startMs * 1000 >= p.startUs - slack && j.startMs * 1000 <= p.endUs)
          .orElse(mine.find(_.name == "op")).getOrElse(Span(key, r.root, -1, "op", r.startUs, r.endUs))
        nextId += 1
        val sp = Span(key, nextId, parent.id, "spark.job", j.startMs * 1000, j.endMs * 1000)
        if (sp.startUs < parent.startUs - slack || sp.endUs > parent.endUs + slack || j.endMs < 0) violations += 1
        jobSpan(j.id) = sp
        spans += sp
      }
      val stageSpan = mutable.HashMap.empty[(Int, Int), Span]
      for (s <- stages; js <- jobSpan.get(s.job)) {
        nextId += 1
        val sp = Span(key, nextId, js.id, "spark.stage", s.submitMs * 1000, s.doneMs * 1000)
        if (sp.startUs < js.startUs - slack || sp.endUs > js.endUs + slack || s.doneMs < 0) violations += 1
        stageSpan((s.id, s.attempt)) = sp
        spans += sp
      }
      for (t <- tasks; ss <- stageSpan.collectFirst { case ((id, _), sp) if id == t.stage => sp }) {
        nextId += 1
        val sp = Span(key, nextId, ss.id, "spark.task", t.launchMs * 1000, t.finishMs * 1000)
        if (sp.startUs < ss.startUs - slack || sp.endUs > ss.endUs + slack) violations += 1
        spans += sp
      }
      // benchmark-side children inside their op
      for (c <- mine if c.name != "op")
        if (c.startUs < r.startUs || c.endUs > r.endUs) violations += 1
      if (wl.stageNames.nonEmpty) {
        val st = r.op.sql
        m(s"ops.$st.build_ms") += r.buildUs / 1000.0
        m(s"ops.$st.exec_ms") += r.execUs / 1000.0
        m(s"ops.$st.rows_out") += r.rowsOut
      }
    }
    val tasks = m("exec.tasks")
    m("exec.nonempty_task_ratio") = if (tasks > 0) m("exec.nonempty_tasks") / tasks else 0.0
    m.remove("exec.nonempty_tasks")
    wl match {
      case c: CorpusWorkload => c.quality.foreach { case (k, v) => m(k) = v }
      case _ =>
    }
    driverState.foreach { case (k, v) => m(k) = v }
    m("jvm.gc_ms") = gcRegionMs.toDouble
    m("jvm.jit_ms") = jitMs
    m("setup.spark_start_s") = sparkStartS
    m("setup.engine_for_s") = Metrics.median(setups.map(_("prepare_s")))
    m("setup.warmup_s") = Metrics.median(setups.map(_("warmup_s")))
    m("trace.containment_violations") = violations
    val units = Map("_ms" -> "ms", "_s" -> "s", "_bytes" -> "bytes", "ratio" -> "ratio",
      "recall" -> "ratio", "precision" -> "ratio", "_mb" -> "MB")
    val out = m.toSeq.map { case (k, v) =>
      k -> (v, units.collectFirst { case (suf, u) if k.endsWith(suf) => u }.getOrElse("count"))
    }.toMap
    val purpose = Map(
      "read_wall_ms" -> readWallUs / 1000.0,
      "read_front_end_ms" -> readFrontUs / 1000.0,
      "read_exec_ms" -> readExecUs / 1000.0,
      "read_exec_self_ms" -> readSelfUs / 1000.0,
      "read_task_covered_ms" -> readCoveredUs / 1000.0,
      "dashboard_fixed_cost_share" -> (if (readWallUs > 0) (readSelfUs + readFrontUs).toDouble / readWallUs else 0.0),
      "modeling_task_covered_share" -> (if (readExecUs > 0) readCoveredUs.toDouble / readExecUs else 0.0))
    (out, purpose, spans.toSeq)
  }
}
