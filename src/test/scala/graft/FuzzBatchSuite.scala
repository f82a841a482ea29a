package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.util.Random

/** Randomized batch scripts against the snapshot contract (round-9 verdict
  * task 4, second half; reference invariants at
  * yardstick_extension.cpp:1498-1754):
  *
  *  - TEMPORARY measure views are batch-scoped; a shadowed permanent view
  *    is restored at batch end unless the batch dropped it (main.-DROP);
  *  - dropping a batch temp mid-batch reveals the shadowed permanent for
  *    the REST of the batch;
  *  - a temp never consumed by a materializing AGGREGATE statement, or one
  *    read by a plain SELECT, errors at batch end ("TEMPORARY AS MEASURE");
  *  - any failure rolls the measure catalog back to the pre-batch snapshot.
  *
  * The model is an independent state machine over (permanent defs, temp
  * defs, consumption/select-ref sets) — it shares no code with GraftEngine.
  * For clean batches it also predicts every CTAS output from the definition
  * active AT THE CONSUMING STATEMENT (eager mid-batch visibility). After a
  * failed batch only the measure-catalog key set is asserted: CTAS side
  * effects before the failing statement are the engine's documented
  * eager-execution half-state (the reference rewrites the whole batch
  * before executing anything).
  */
class FuzzBatchSuite extends SparkSpec {

  lazy val engine: GraftEngine = GraftEngine(spark)

  private val names = Seq("fzb_p1", "fzb_p2", "fzb_t1")

  // base rows; sums per k are exact integers
  private val baseRows: Seq[(Int, Int)] = Seq((1, 3), (1, 4), (2, 5), (2, 6), (2, 7))
  private val sums: Map[Int, Long] = baseRows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sum.toLong }

  sealed trait Op
  case class CreateTemp(name: String, mult: Int, style: Int = 0) extends Op
  case class CreatePerm(name: String, mult: Int, style: Int = 0) extends Op
  case class DropView(name: String) extends Op
  case class DropMain(name: String) extends Op
  case class ConsumeCtas(name: String, table: String) extends Op
  case class PlainSelect(name: String) extends Op
  case object FailStmt extends Op
  // axis 10: an invalid set-op CREATE (ORDER BY/LIMIT nested between paren
  // layers) — fails the batch through the guided GraftException path, so the
  // snapshot restore is exercised against the branch-aware DDL
  case object FailSetOpCreate extends Op
  // axis 11: grand-total consume. Over a plain/set-op view it materializes
  // one row; over a WINDOW-measure view the AT (ALL) context holds two
  // distinct per-k window values, so the single-value guard raises and the
  // batch rolls back — the window × set-op × batch cross.
  case class ConsumeAtAll(name: String, table: String) extends Op

  /** View body by style. The set-op styles (1-3) partition fzbatch_src by a
    * branch predicate so the union OUTPUT multiset equals the source rows —
    * every style answers AGGREGATE(mv) with the same sums(k) * mult, and the
    * model needs no per-style value logic; only the DDL path differs
    * (branch-aware parse, paren unwrap, slot replacement, whole-op tail).
    */
  private def body(mult: Int, style: Int): String = style match {
    case 0 => s"SELECT k, SUM(v * $mult) AS MEASURE mv FROM fzbatch_src"
    case 1 => s"SELECT k, v, SUM(v * $mult) AS MEASURE mv FROM fzbatch_src WHERE k = 1 " +
      s"UNION ALL SELECT k, v, NULL FROM fzbatch_src WHERE k <> 1"
    case 2 => s"(SELECT k, v, SUM(v * $mult) AS MEASURE mv FROM fzbatch_src WHERE k = 1) " +
      s"UNION ALL (SELECT k, v, NULL FROM fzbatch_src WHERE k <> 1)"
    // measure declared in the SECOND branch + whole-set-op ORDER BY/LIMIT
    // tail (LIMIT = full size, a semantic no-op that exercises the wrap)
    case 3 => s"SELECT k, v, NULL AS mv FROM fzbatch_src WHERE k = 1 " +
      s"UNION ALL SELECT k, v, SUM(v * $mult) AS MEASURE mv FROM fzbatch_src WHERE k <> 1 " +
      s"ORDER BY k, v LIMIT ${baseRows.size}"
    // axis 11 window styles: the per-k window value equals sums(k)*mult on
    // every row, so grouped consumes answer the SAME values as styles 0-3
    // (single-valued guard passes); only AT (ALL) diverges (guard raises).
    case 4 => s"SELECT k, v, SUM(v * $mult) OVER (PARTITION BY k) AS MEASURE mv " +
      "FROM fzbatch_src"
    // window measure inside a set-op branch: the frame recomputes the
    // window over the union OUTPUT (both branches' rows)
    case _ => s"SELECT k, v, SUM(v * $mult) OVER (PARTITION BY k) AS MEASURE mv " +
      "FROM fzbatch_src WHERE k = 1 " +
      "UNION ALL SELECT k, v, NULL FROM fzbatch_src WHERE k <> 1"
  }

  private def isWindowStyle(style: Int): Boolean = style >= 4

  private def render(op: Op): String = op match {
    case CreateTemp(n, m, st) => s"CREATE TEMPORARY VIEW $n AS ${body(m, st)}"
    case CreatePerm(n, m, st) => s"CREATE OR REPLACE VIEW $n AS ${body(m, st)}"
    case DropView(n) => s"DROP VIEW $n"
    case DropMain(n) => s"DROP VIEW main.$n"
    case ConsumeCtas(n, t) => s"CREATE TABLE $t AS SELECT k, AGGREGATE(mv) AS s FROM $n"
    case PlainSelect(n) => s"SELECT k, AGGREGATE(mv) AS s FROM $n"
    case FailStmt => "SELECT fz_no_such_col FROM fzbatch_src"
    case FailSetOpCreate =>
      "CREATE TEMPORARY VIEW fzb_bad AS ((SELECT k, v, SUM(v) AS MEASURE mv FROM fzbatch_src) " +
        "LIMIT 2) UNION ALL SELECT k, v, NULL FROM fzbatch_src"
    case ConsumeAtAll(n, t) => s"CREATE TABLE $t AS SELECT AGGREGATE(mv) AT (ALL) AS s FROM $n"
  }

  /** Model state during a batch (engine-eager visibility). */
  private case class St(perm: Map[String, Int], temp: Map[String, Int],
                        created: Set[String], consumed: Set[String],
                        selectRef: Boolean, permDroppedInBatch: Set[String]) {
    def active(n: String): Option[Int] = temp.get(n).orElse(perm.get(n))
  }

  private def runBatchCase(rnd: Random, caseN: Int, setOpAxis: Boolean = false,
                           windowAxis: Boolean = false): Unit = {
    val caseId =
      if (windowAxis) s"batch-window case=$caseN"
      else if (setOpAxis) s"batch-setop case=$caseN" else s"batch case=$caseN"
    // axis 10 draws set-op bodies for most creates (style 1-3); axis 11
    // adds the window styles (4-5) to the mix; axis 4 keeps the plain body
    // so its 100 pinned seeds stay byte-identical
    def style(): Int =
      if (windowAxis) rnd.nextInt(6)
      else if (setOpAxis && rnd.nextInt(4) > 0) 1 + rnd.nextInt(3) else 0
    // reset universe (each sql() call is its own single-statement batch)
    for (n <- names) engine.sql(s"DROP VIEW IF EXISTS $n")
    // definition STYLE per live name, tracked alongside St (the value model
    // is style-independent; style only decides whether AT (ALL) raises)
    val permStyle = scala.collection.mutable.Map[String, Int]()
    val tempStyle = scala.collection.mutable.Map[String, Int]()
    def activeStyle(n: String): Option[Int] = tempStyle.get(n).orElse(permStyle.get(n))
    val preBatch: Map[String, Int] = Map(
      "fzb_p1" -> (1 + rnd.nextInt(5)), "fzb_p2" -> (1 + rnd.nextInt(5)))
    for ((n, m) <- preBatch) {
      val st0 = style()
      permStyle(n) = st0
      engine.sql(s"CREATE VIEW $n AS ${body(m, st0)}")
    }
    val snapshotKeys = engine.catalog.snapshot().keySet

    // ---- generate a batch
    var st = St(preBatch, Map.empty, Set.empty, Set.empty, selectRef = false, Set.empty)
    val ops = scala.collection.mutable.ListBuffer[Op]()
    // (table, mult, grand): grand = AT (ALL) one-row output
    val ctasExpected = scala.collection.mutable.ListBuffer[(String, Int, Boolean)]()
    var failed = false
    var windowGuardFail = false
    var tableN = 0
    val nOps = 3 + rnd.nextInt(4)
    while (ops.size < nOps && !failed) {
      val roll = rnd.nextInt(100)
      val op: Option[Op] =
        if (roll < 28) {
          // new temp, or temp shadowing a permanent; never a duplicate temp
          val cands = names.filterNot(st.temp.contains)
          if (cands.isEmpty) None
          else Some(CreateTemp(cands(rnd.nextInt(cands.size)), 1 + rnd.nextInt(9), style()))
        } else if (roll < 58) {
          val cands = names.filter(st.active(_).nonEmpty)
          if (cands.isEmpty) None
          else {
            tableN += 1
            val pick = cands(rnd.nextInt(cands.size))
            // axis-unique prefix: a guard-failing AT (ALL) CTAS is not in
            // ctasExpected, so its name must never collide with another
            // axis's leftover table
            val tbl = if (windowAxis) s"fz_w${caseN}_$tableN" else s"fz_out_${caseN}_$tableN"
            // axis 11: a third of consumes are grand-total AT (ALL) —
            // the window × single-value-guard cross
            if (windowAxis && rnd.nextInt(3) == 0) Some(ConsumeAtAll(pick, tbl))
            else Some(ConsumeCtas(pick, tbl))
          }
        } else if (roll < 72) {
          val cands = names.filter(n => st.temp.contains(n) || st.perm.contains(n))
          if (cands.isEmpty) None else Some(DropView(cands(rnd.nextInt(cands.size))))
        } else if (roll < 82) {
          // any name, INCLUDING temp-shadowed ones (r9 ADVICE: the
          // perm-re-create-over-temp interleaving was ungenerated): a
          // permanent re-create on a shadowed name ends the temp's life and
          // replaces the permanent — last create wins, nothing to reveal
          Some(CreatePerm(names(rnd.nextInt(names.size)), 1 + rnd.nextInt(9), style()))
        } else if (roll < 90) {
          // plain SELECT: over a temp it is the "returned directly" error
          val cands = names.filter(st.active(_).nonEmpty)
          if (cands.isEmpty) None else Some(PlainSelect(cands(rnd.nextInt(cands.size))))
        } else if (roll < 95) {
          // main.-qualified drop of a shadowed permanent
          val cands = names.filter(n => st.temp.contains(n) && st.perm.contains(n) &&
            !st.permDroppedInBatch.contains(n))
          if (cands.isEmpty) None else Some(DropMain(cands(rnd.nextInt(cands.size))))
        } else Some(
          if (setOpAxis && rnd.nextInt(2) == 0) FailSetOpCreate else FailStmt)
      op.foreach { o =>
        ops += o
        o match {
          case CreateTemp(n, m, s0) =>
            st = st.copy(temp = st.temp + (n -> m), created = st.created + n)
            tempStyle(n) = s0
          case CreatePerm(n, m, s0) =>
            // on a temp-shadowed name the perm re-create consumes the temp's
            // slot: the temp is gone (no reveal at drop/batch-end, no
            // unconsumed-temp error — same life-end as a bare DROP) and the
            // new permanent is what any later DROP VIEW drops
            st = st.copy(perm = st.perm + (n -> m),
              temp = st.temp - n, created = st.created - n,
              permDroppedInBatch = st.permDroppedInBatch - n)
            tempStyle.remove(n); permStyle(n) = s0
          case DropView(n) =>
            if (st.temp.contains(n)) {
              // mid-batch reveal: the shadowed permanent serves the rest of
              // the batch unless main.-dropped earlier
              st = st.copy(temp = st.temp - n, created = st.created - n,
                perm = if (st.permDroppedInBatch.contains(n)) st.perm - n else st.perm)
              tempStyle.remove(n)
              if (st.permDroppedInBatch.contains(n)) permStyle.remove(n)
            } else { st = st.copy(perm = st.perm - n); permStyle.remove(n) }
          case DropMain(n) =>
            st = st.copy(perm = st.perm - n, permDroppedInBatch = st.permDroppedInBatch + n)
            permStyle.remove(n)
          case ConsumeCtas(n, t) =>
            ctasExpected += ((t, st.active(n).get, false))
            if (st.temp.contains(n)) st = st.copy(consumed = st.consumed + n)
          case ConsumeAtAll(n, t) =>
            if (isWindowStyle(activeStyle(n).get)) {
              // AT (ALL) context carries both per-k window values — the
              // single-value guard raises at execution, failing the batch
              failed = true; windowGuardFail = true
            } else {
              ctasExpected += ((t, st.active(n).get, true))
              if (st.temp.contains(n)) st = st.copy(consumed = st.consumed + n)
            }
          case PlainSelect(n) =>
            if (st.temp.contains(n)) st = st.copy(selectRef = true)
          case FailStmt | FailSetOpCreate => failed = true
        }
      }
    }
    // leftovers = temps still live at batch end that no CTAS ever consumed
    val unconsumed = (st.created & st.temp.keySet).diff(st.consumed)
    val expectError = failed || st.selectRef || unconsumed.nonEmpty

    // pre-drop EVERY table the batch will CREATE (including one whose CTAS
    // is expected to fail mid-execution and so is absent from ctasExpected)
    val tablesUsed = ops.collect {
      case ConsumeCtas(_, t) => t
      case ConsumeAtAll(_, t) => t
    }
    for (t <- tablesUsed) {
      engine.sql(s"DROP TABLE IF EXISTS $t")
      try spark.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Exception => }
    }
    val batchSql = ops.map(render).mkString(";\n")

    if (expectError) {
      val e = intercept[Exception] { engine.executeBatch(batchSql) }
      if (!failed)
        assert(e.getMessage.contains("TEMPORARY AS MEASURE"),
          s"\n[$caseId] expected temp-consumption error\nbatch:\n$batchSql\ngot: ${e.getMessage}")
      else if (windowGuardFail)
        // the failing statement is always last (generation stops at the
        // first failure), so the surfaced error IS the guard's
        assert(e.getMessage.contains("not single-valued"),
          s"\n[$caseId] expected window single-value guard\nbatch:\n$batchSql\ngot: ${e.getMessage}")
      // rollback contract: the measure catalog is exactly the pre-batch set
      assert(engine.catalog.snapshot().keySet == snapshotKeys,
        s"\n[$caseId] catalog not restored after failure\nbatch:\n$batchSql")
      // pre-batch permanent DEFINITIONS answer again (shadow restore path)
      for ((n, m) <- preBatch) checkView(caseId, batchSql, n, Some(m))
      return
    }

    engine.executeBatch(batchSql)
    // success: temps are gone, permanent mutations applied, shadowed
    // permanents restored
    for (n <- names) checkView(caseId, batchSql, n, st.perm.get(n))
    // CTAS outputs reflect the definition active at the consuming statement
    for ((t, m, grand) <- ctasExpected) {
      if (grand) {
        val got = rows(engine.sql(s"SELECT s FROM $t"))
        val want = Seq(Seq((sums.values.sum * m).toString))
        assert(got == want, s"\n[$caseId] AT(ALL) CTAS $t mismatch (mult $m)\n" +
          s"batch:\n$batchSql\ngot: $got\nwant: $want")
      } else {
        val got = rows(engine.sql(s"SELECT k, s FROM $t"))
        val want = sums.toSeq.map { case (k, s) => Seq(k.toString, (s * m).toString) }
          .sortBy(_.mkString(""))
        assert(got == want, s"\n[$caseId] CTAS $t mismatch (mult $m)\nbatch:\n$batchSql\n" +
          s"got: $got\nwant: $want")
      }
    }
  }

  private def checkView(caseId: String, batchSql: String, n: String, mult: Option[Int]): Unit =
    mult match {
      case Some(m) =>
        val got = rows(engine.sql(s"SELECT k, AGGREGATE(mv) AS s FROM $n ORDER BY k"))
        val want = sums.toSeq.map { case (k, s) => Seq(k.toString, (s * m).toString) }
          .sortBy(_.mkString(""))
        assert(got == want,
          s"\n[$caseId] view $n should run def x$m\nbatch:\n$batchSql\ngot: $got\nwant: $want")
      case None =>
        val survived = try {
          engine.sql(s"SELECT k, AGGREGATE(mv) AS s FROM $n").collect(); true
        } catch { case _: Exception => false }
        assert(!survived, s"\n[$caseId] view $n should be gone\nbatch:\n$batchSql")
    }

  test("differential fuzz: 100 randomized batch scripts match the snapshot-contract model") {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW fzbatch_src AS SELECT * FROM VALUES " +
      baseRows.map { case (k, v) => s"($k, $v)" }.mkString(", ") + " AS t(k, v)")
    val seed = 20260818
    val rnd = new Random(seed)
    var i = 0
    // 100 cases (raised from 60 in round 10 when the generator gained the
    // perm-re-create-over-temp-shadow interleaving)
    while (i < 100) {
      if (i % 15 == 0) rnd.setSeed(seed + i)
      runBatchCase(rnd, i)
      i += 1
    }
  }

  // axis 10 (r11 verdict task 5): the two newest features against each
  // other — temp/perm SET-OP measure views created, consumed, dropped and
  // shadowed mid-batch, plus snapshot restore through the branch-aware
  // guided-error path (FailSetOpCreate). Same state machine; only the view
  // BODIES change (the set-op styles are value-equivalent by construction).
  test("differential fuzz: 60 batch scripts over set-op measure views match the model") {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW fzbatch_src AS SELECT * FROM VALUES " +
      baseRows.map { case (k, v) => s"($k, $v)" }.mkString(", ") + " AS t(k, v)")
    val seed = 20260912
    val rnd = new Random(seed)
    var i = 0
    while (i < 60) {
      if (i % 15 == 0) rnd.setSeed(seed + i)
      runBatchCase(rnd, i, setOpAxis = true)
      i += 1
    }
  }

  // axis 11 (r12 verdict task 5): WINDOW measures × set-op view bases ×
  // batch semantics. View bodies mix the plain, set-op and window styles
  // (including a window measure declared inside a set-op branch); a third
  // of consumes are grand-total AT (ALL), which over a window view must
  // fail the batch through the single-value guard and roll the catalog
  // back — the guard, the frame evaluator, and the snapshot contract
  // crossed in one state machine.
  test("differential fuzz: 100 batch scripts crossing window measures, set-op views and batches") {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW fzbatch_src AS SELECT * FROM VALUES " +
      baseRows.map { case (k, v) => s"($k, $v)" }.mkString(", ") + " AS t(k, v)")
    val seed = 20261003
    val rnd = new Random(seed)
    var i = 0
    while (i < 100) {
      if (i % 15 == 0) rnd.setSeed(seed + i)
      runBatchCase(rnd, i, setOpAxis = true, windowAxis = true)
      i += 1
    }
  }

  // axis 12: one engine shared by 4 threads, 6 batches each. Every batch
  // creates a TEMP measure view and consumes it with a CTAS. A serial
  // replay fails no batch, gives every table its own thread's
  // sums(k) * mult, and ends with the catalog key set it started with.
  // `shared` gives every thread the same TEMP name, so a batch that
  // interleaved with another would read the other thread's definition.
  private def runConcurrent(shared: Boolean): Unit = {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW fzbatch_src AS SELECT * FROM VALUES " +
      baseRows.map { case (k, v) => s"($k, $v)" }.mkString(", ") + " AS t(k, v)")
    val (threads, perThread) = (4, 6)
    val rnd = new Random(20261017)
    val mults = Array.fill(threads, perThread)(1 + rnd.nextInt(9))
    def table(th: Int, i: Int): String = s"fzb_cc${if (shared) "s" else "d"}_out_${th}_$i"
    for (th <- 0 until threads; i <- 0 until perThread)
      spark.sql(s"DROP TABLE IF EXISTS ${table(th, i)}")
    val before = engine.catalog.snapshot().keySet
    val pool = Executors.newFixedThreadPool(threads)
    val failures = try {
      val futures = (0 until threads).map { th =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until perThread).flatMap { i =>
            val view = if (shared) "fzb_cct" else s"fzb_cct$th"
            val batch = s"CREATE TEMPORARY VIEW $view AS ${body(mults(th)(i), 0)};\n" +
              s"CREATE TABLE ${table(th, i)} AS SELECT k, AGGREGATE(mv) AS s FROM $view"
            try { engine.sql(batch); None }
            catch { case e: Exception => Some(s"thread $th batch $i: ${e.getMessage}") }
          }
        })
      }
      futures.flatMap(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    assert(failures.isEmpty,
      s"${failures.size} of ${threads * perThread} batches failed:\n" + failures.mkString("\n"))
    for (th <- 0 until threads; i <- 0 until perThread) {
      val got = rows(engine.sql(s"SELECT k, s FROM ${table(th, i)}"))
      val want = sums.toSeq.map { case (k, s) => Seq(k.toString, (s * mults(th)(i)).toString) }
        .sortBy(_.mkString(""))
      assert(got == want, s"table ${table(th, i)}: got $got, want $want")
    }
    assert(engine.catalog.snapshot().keySet == before)
  }

  test("concurrent batches on one engine, one TEMP name per thread, match a serial replay") {
    runConcurrent(shared = false)
  }

  test("concurrent batches on one engine, one TEMP name for all threads, match a serial replay") {
    runConcurrent(shared = true)
  }
}
