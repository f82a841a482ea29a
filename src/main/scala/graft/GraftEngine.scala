package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{MeasureCatalog, MeasureKind, MeasureView, ViewMeasure}
import graft.functions.Shims
import graft.planner.{GraftException, QueryExpander}
import graft.syntax.{MeasureDdl, ParsedMeasureView, Scan}

/** The public engine: a measure-aware semantic layer over Spark SQL.
  *
  * {{{
  * val engine = GraftEngine(spark)
  * engine.sql("CREATE VIEW sales_v AS SELECT year, region, SUM(amount) AS MEASURE revenue FROM sales")
  * val df = engine.sql("SELECT year, region, AGGREGATE(revenue) AT (ALL region) FROM sales_v")
  * }}}
  *
  * Statement routing mirrors the reference's parser override
  * (/root/reference/src/yardstick_extension.cpp:1864-1980): AS MEASURE DDL
  * registers the measure catalog entry and a clean Spark temp view; measure
  * queries are expanded to join-based SQL; DROP VIEW keeps the catalogs in
  * sync; everything else passes through to spark.sql.
  */
final class GraftEngine(val spark: SparkSession) {

  // session-wide optimizer extension: eager aggregation (group-by pushdown
  // through inner equi-joins). Stats-gated, so it is inert below
  // graft.eagerAgg.minBytes and kicks in exactly where it pays — large
  // fact-side scans at 100 TB. Idempotent across engine instances.
  if (!spark.experimental.extraOptimizations.contains(graft.plans.EagerAggregation))
    spark.experimental.extraOptimizations ++= Seq(graft.plans.EagerAggregation)
  if (!spark.experimental.extraOptimizations.contains(graft.plans.EagerGroupingSets))
    spark.experimental.extraOptimizations ++= Seq(graft.plans.EagerGroupingSets)

  val catalog = new MeasureCatalog

  private val baseColsCache = TrieMap.empty[String, Set[String]]

  private def baseColsOf(viewNameLower: String): Set[String] =
    baseColsCache.getOrElseUpdate(viewNameLower, {
      catalog.get(viewNameLower) match {
        case Some(v) =>
          try spark.sql(s"SELECT * FROM (${v.baseRelationSql}) __probe LIMIT 0")
            .columns.map(_.toLowerCase).toSet
          catch { case _: Exception => Set.empty }
        case None => Set.empty
      }
    })

  /** Warnings emitted by the last statement (reference: yardstick_warning
    * wrapper, yardstick_extension.cpp:1152-1177). `warningsAsErrors`
    * escalates them, matching `SET warnings_as_errors = true`.
    */
  @volatile var warningsAsErrors: Boolean = false
  private val warningBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def lastWarnings: Seq[String] = {
    import scala.jdk.CollectionConverters._
    warningBuf.asScala.toSeq
  }

  // batch-scope state (reference batch invariants,
  // yardstick_extension.cpp:1498-1754, semantics derived from the corpus):
  //  - a temp measure view consumed by a MATERIALIZING statement (CTAS /
  //    INSERT) is fine; referenced by a plain SELECT it is an error (the
  //    reference defers SELECT execution past the temp view's lifetime)
  //  - a leftover temp view never consumed at all is an error
  //  - a shadowed permanent view is restored unless the batch dropped it
  private val batchTempCreated = scala.collection.mutable.LinkedHashSet[String]()
  // creation-time shadow per batch temp: what the name was bound to at the
  // moment the TEMP was created (reference temporary_snapshots,
  // yardstick_extension.cpp:1596-1631). The PRE-BATCH snapshot is the wrong
  // restore source for a name whose permanent was dropped earlier in the
  // same batch — restoring from it resurrects the dropped view (found by
  // FuzzBatchSuite: DROP VIEW p; CREATE TEMP VIEW p; DROP VIEW p).
  private val batchShadowed = scala.collection.mutable.HashMap[String, Option[MeasureView]]()
  private val batchConsumedMat = scala.collection.mutable.Set[String]()
  private val batchSelectRefs = scala.collection.mutable.Set[String]()
  private val batchDropped = scala.collection.mutable.Set[String]()
  // temps whose name a later PERMANENT re-create took over mid-batch: no
  // longer live temps (no reveal, no unconsumed-temp error — same as a
  // dropped temp), but the failure path still must restore their pre-batch
  // Spark binding
  private val batchTempReplaced = scala.collection.mutable.Set[String]()
  // permanent views dropped via main.-qualified DROP in this batch: a later
  // main.x read must error, and a later bare DROP of the temp shadow must
  // NOT resurrect the permanent
  private val permDroppedInBatch = scala.collection.mutable.Set[String]()
  private var inBatch = false
  // __graft_perm_* twins materialized this batch, cleaned up at batch end
  private val batchHidden = scala.collection.mutable.Set[String]()
  private var batchSnapshot: Map[String, MeasureView] = Map.empty
  private var stmtMaterializing = false

  private val expander = new QueryExpander(catalog, baseColsOf,
    w => warningBuf.add(w), v => {
      if (batchTempCreated.contains(v)) {
        if (stmtMaterializing) batchConsumedMat += v else batchSelectRefs += v
      }
    })

  /** Execute one or more ';'-separated statements as one batch; returns the
    * last result. Batch semantics follow the reference:
    *  - on any failure the measure catalog is restored to its pre-batch
    *    snapshot;
    *  - TEMPORARY measure views live only inside the batch; a shadowed
    *    permanent measure view is re-registered afterwards;
    *  - a TEMP measure view that is never consumed by an AGGREGATE() in the
    *    same batch is an error.
    */
  def sql(text: String): DataFrame = {
    val stmts = Scan.splitStatements(text)
    val snap = catalog.snapshot()
    batchSnapshot = snap
    inBatch = true
    batchTempCreated.clear()
    batchShadowed.clear()
    batchConsumedMat.clear()
    batchSelectRefs.clear()
    batchDropped.clear()
    batchTempReplaced.clear()
    permDroppedInBatch.clear()
    try {
      var last: DataFrame = spark.emptyDataFrame
      for (s <- stmts) last = executeStatement(s)
      val leftovers = batchTempCreated.filter(n => catalog.get(n).exists(_.temporary)).toList
      for (name <- leftovers) {
        catalog.drop(name)
        try spark.catalog.dropTempView(name) catch { case _: Exception => }
        // restore what the temp shadowed AT ITS CREATION, not the pre-batch
        // binding — they differ when the batch dropped/changed the
        // permanent before creating the temp
        batchShadowed.getOrElse(name.toLowerCase, snap.get(name.toLowerCase)) match {
          case Some(prev) if !prev.temporary && !batchDropped.contains(name) =>
            catalog.register(prev)
            if (prev.cleanViewSql.nonEmpty) spark.sql(prev.cleanViewSql)
          case _ =>
        }
      }
      val bad = batchSelectRefs.toList ++ leftovers.filterNot(batchConsumedMat.contains)
      if (bad.nonEmpty)
        throw new GraftException(
          "TEMPORARY AS MEASURE views must be used in the same statement batch as AGGREGATE(): " +
            bad.distinct.mkString(", "))
      last
    } catch {
      case e: Throwable =>
        // half-state emulation of the reference's dual catalogs: the measure
        // catalog rolls back, batch-created temp views are gone — but a
        // shadowed permanent view must get its Spark temp view back, or the
        // restored catalog would claim a view that no longer resolves
        for (name <- batchTempCreated ++ batchTempReplaced) {
          try spark.catalog.dropTempView(name) catch { case _: Exception => }
          snap.get(name.toLowerCase) match {
            case Some(prev) if !prev.temporary && prev.cleanViewSql.nonEmpty =>
              try spark.sql(prev.cleanViewSql) catch { case _: Exception => }
            case _ =>
          }
        }
        catalog.restore(snap)
        throw e
    } finally {
      // hidden permanent twins are batch-scoped: a stale one would keep
      // serving a definition the user later replaces or drops
      for (h <- batchHidden) {
        catalog.drop(h)
        try spark.catalog.dropTempView(h) catch { case _: Exception => }
      }
      batchHidden.clear()
      inBatch = false
    }
  }

  /** Alias of sql() — every multi-statement string is a batch. */
  def executeBatch(text: String): DataFrame = sql(text)

  /** Expand a measure query to the SQL actually executed (for inspection /
    * EXPLAIN); returns the input when it is not a measure query.
    */
  def expandSql(text: String): String = {
    // same preprocessing as sql(): main.-qualified names must resolve to the
    // hidden permanent twin here too, or the inspected SQL is not the
    // executed one
    val before = batchHidden.toSet
    val stmt = resolveMainQualified(preprocess(text))
    val out = expander.expand(stmt).getOrElse(stmt)
    // inspection must not leak catalog state: outside a batch nobody cleans
    // batchHidden until the NEXT sql() call, so drop what we materialized
    if (!inBatch) {
      for (h <- batchHidden.diff(before)) {
        catalog.drop(h)
        try spark.catalog.dropTempView(h) catch { case _: Exception => }
        batchHidden -= h
      }
    }
    out
  }

  /** Statement text as the expander and Spark receive it: comments blanked
    * (a statement may lead with a line comment ahead of its SEMANTIC
    * prefix), a trailing ';' and the SEMANTIC prefix dropped, DuckDB
    * spellings shimmed.
    */
  private def preprocess(stmt: String): String = {
    val t = Scan.blankComments(stmt).trim.stripSuffix(";").trim
    Shims(if (t.length > 9 && t.regionMatches(true, 0, "SEMANTIC", 0, 8) &&
              t.charAt(8).isWhitespace) t.substring(9).trim
          else t)
  }

  private val setWarningsRe =
    "(?is)^\\s*SET\\s+warnings_as_errors\\s*=\\s*(true|false)\\s*;?\\s*$".r
  private val prepareRe = "(?is)^\\s*PREPARE\\s+([A-Za-z_]\\w*)\\s+AS\\s+(.*)$".r
  private val executeRe = "(?is)^\\s*EXECUTE\\s+([A-Za-z_]\\w*)\\s*;?\\s*$".r
  private val deallocRe = "(?is)^\\s*DEALLOCATE\\s+(?:PREPARE\\s+)?([A-Za-z_]\\w*)\\s*;?\\s*$".r
  private val prepared = TrieMap.empty[String, String]

  private def executeStatement(stmt0: String): DataFrame = {
    val stmtShimmed0 = preprocess(stmt0)

    // warnings as a queryable relation: `SELECT * FROM graft_warnings()` (or
    // the bare name) reads the warnings of the most recent statement. The
    // reference surfaces warnings out-of-band (yardstick_extension.cpp
    // warning wrapper); a relation makes the same state SQL-visible and
    // driver-verifiable. Materialized BEFORE this statement clears the
    // buffer, so it always reflects the previous statement.
    val stmtShimmed =
      if ("(?i)\\bgraft_warnings\\b".r.findFirstIn(stmtShimmed0).isEmpty) stmtShimmed0
      else {
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
        val rows: java.util.List[Row] =
          lastWarnings.zipWithIndex.map { case (w, i) => Row(i + 1, w) }.asJava
        val schema = StructType(Seq(
          StructField("pos", IntegerType, nullable = false),
          StructField("warning", StringType, nullable = false)))
        spark.createDataFrame(rows, schema).coalesce(1)
          .createOrReplaceTempView("graft_warnings")
        stmtShimmed0.replaceAll("(?i)\\bgraft_warnings\\s*\\(\\s*\\)", "graft_warnings")
      }

    // DROP VIEW main.x while a TEMP view shadows x drops the PERMANENT one
    // (DuckDB schema semantics; measures.test:538): suppress its batch-end
    // restore, leave the temp shadow untouched. Handled before the general
    // main.-rewrite so the drop is not redirected at the hidden view.
    MeasureDdl.dropViewName(stmtShimmed) match {
      case Some(name) if name.toLowerCase.startsWith("main.") =>
        val lname = Scan.lastPart(name).toLowerCase
        val shadowedPerm = catalog.get(lname).exists(_.temporary) &&
          batchSnapshot.get(lname).exists(p => !p.temporary)
        if (shadowedPerm) {
          batchDropped += lname
          permDroppedInBatch += lname
          val hidden = hiddenNameOf(lname)
          catalog.drop(hidden)
          try spark.catalog.dropTempView(hidden) catch { case _: Exception => }
          return spark.emptyDataFrame
        }
      // unshadowed: the qualifier is a no-op — fall through to the rewrite
      case _ =>
    }

    val stmt = resolveMainQualified(stmtShimmed)

    // re-creating a PERMANENT view x later in the batch revives main.x: a
    // qualified read now has a live permanent target again
    "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(TEMPORARY\\s+|TEMP\\s+)?VIEW\\s+([\\w.]+)".r
      .findFirstMatchIn(stmt) match {
      case Some(cm) if cm.group(1) == null =>
        val lname = Scan.lastPart(cm.group(2)).toLowerCase
        permDroppedInBatch -= lname
        // a PERMANENT re-create on a temp-shadowed name REPLACES the
        // permanent and ends the temp's life (as a bare DROP would): the
        // creation-time shadow must not survive, or a later DROP VIEW
        // resurrects the replaced definition and silently discards the new
        // one (r9 ADVICE: CREATE TEMP p over perm P1; CREATE OR REPLACE
        // VIEW p = P2; DROP VIEW p revived P1). The reference leaves this
        // interleaving in a mixed state (measure metadata P1, catalog body
        // P2 — yardstick_extension.cpp:1630-1637 pushes the pre-create
        // state to the batch-rollback list, while the temp snapshot from
        // :1596 still restores at drop); nothing in its corpus exercises
        // it, so we pin the consistent reading: last create wins.
        if (batchTempCreated.remove(lname)) {
          batchShadowed.remove(lname)
          batchTempReplaced += lname
        }
      case _ =>
    }

    stmt match {
      case setWarningsRe(v) =>
        warningsAsErrors = v.equalsIgnoreCase("true")
        return spark.emptyDataFrame
      case prepareRe(name, body) =>
        // parameterless prepared statements (reference corpus uses them for
        // deferred measure INSERTs); a body that is itself a prepared-
        // statement command could EXECUTE itself without bound
        if ("(?is)^\\s*(PREPARE|EXECUTE|DEALLOCATE)\\b.*".r.matches(body))
          throw new GraftException(s"PREPARE $name: the body cannot be PREPARE, EXECUTE or DEALLOCATE")
        prepared.put(name.toLowerCase, body.trim.stripSuffix(";"))
        return spark.emptyDataFrame
      case executeRe(name) =>
        val body = prepared.getOrElse(name.toLowerCase,
          throw new GraftException(s"Unknown prepared statement: $name"))
        return executeStatement(body)
      case deallocRe(name) =>
        prepared.remove(name.toLowerCase)
        return spark.emptyDataFrame
      case _ =>
    }

    // DROP VIEW: sync the measure catalog first (measures.rs:7655-7661).
    // CASCADE/RESTRICT are DuckDB-isms Spark's parser rejects — our views
    // are session temp views with no dependency tracking, so both reduce to
    // a plain drop
    MeasureDdl.dropViewName(stmt) match {
      case Some(name) =>
        val lname = Scan.lastPart(name).toLowerCase
        catalog.drop(name)
        baseColsCache.remove(name.toLowerCase)
        batchDropped += lname
        // a dropped view's hidden permanent twin must not outlive it
        catalog.drop(hiddenNameOf(lname))
        try spark.catalog.dropTempView(hiddenNameOf(lname)) catch { case _: Exception => }
        val res = spark.sql(stmt.replaceAll("(?is)\\s+(CASCADE|RESTRICT)\\s*;?\\s*$", ""))
        // mid-batch reveal: dropping a batch-created TEMP view un-shadows the
        // permanent view it replaced — later statements in the same batch
        // read the permanent again (reference batch semantics), UNLESS the
        // permanent itself was dropped via main.x earlier in this batch
        if (batchTempCreated.remove(lname)) {
          // reveal what the temp shadowed AT ITS CREATION (see batchShadowed)
          batchShadowed.getOrElse(lname, batchSnapshot.get(lname)) match {
            case Some(prev) if !prev.temporary && !permDroppedInBatch.contains(lname) =>
              catalog.register(prev)
              if (prev.cleanViewSql.nonEmpty) spark.sql(prev.cleanViewSql)
              batchDropped -= lname
            case _ =>
          }
        }
        return res
      case None =>
    }

    if (MeasureDdl.hasAsMeasure(stmt)) {
      MeasureDdl.parse(stmt) match {
        case Some(p) => return registerMeasureView(p)
        case None => // fall through (AS MEASURE text in a comment/literal)
      }
    }

    // CTAS / INSERT / CREATE VIEW wrapping a measure SELECT body
    // (reference: CTAS/INSERT body location, measures.rs:2253-2617)
    wrapPrefix(stmt) match {
      case Some((prefix, body)) =>
        warningBuf.clear()
        stmtMaterializing = true
        val expandedOpt = try expander.expand(body) finally { stmtMaterializing = false }
        expandedOpt match {
          case Some(expanded) =>
            if (warningsAsErrors && !warningBuf.isEmpty)
              throw new GraftException("Warning escalated to error: " + lastWarnings.mkString("; "))
            return spark.sql(normalizeDdl(prefix) + " " + expanded)
          case None =>
        }
      case None =>
    }

    warningBuf.clear()
    expander.expand(stmt) match {
      case Some(expanded) =>
        if (warningsAsErrors && !warningBuf.isEmpty)
          throw new GraftException("Warning escalated to error: " + lastWarnings.mkString("; "))
        spark.sql(expanded)
      case None => spark.sql(normalizeDdl(stmt))
    }
  }

  /** DuckDB's `main.` (default-schema) qualifier on a view name bypasses a
    * same-named TEMP view and reads the PERMANENT one
    * (measures.test:490). Our views share a single session temp-view
    * namespace, so the shadowed permanent definition is re-materialized
    * under a hidden name and the qualified reference rewritten to it;
    * unshadowed references just drop the qualifier.
    */
  private def hiddenNameOf(lname: String): String = "__graft_perm_" + lname

  private def resolveMainQualified(stmt: String): String = {
    val re = "(?i)\\bmain\\s*\\.\\s*([A-Za-z_]\\w*)".r
    if (re.findFirstIn(stmt).isEmpty) return stmt
    val mask = Scan.buildMask(stmt)
    val sb = new StringBuilder
    var pos = 0
    for (m <- re.findAllMatchIn(stmt) if !mask(m.start) && m.start >= pos) {
      val bare = m.group(1)
      val lname = bare.toLowerCase
      if (permDroppedInBatch.contains(lname))
        throw new GraftException(
          s"View main.$bare does not exist: the permanent view was dropped earlier in this batch")
      val repl =
        if (catalog.get(lname).exists(_.temporary))
          batchSnapshot.get(lname).filter(p => !p.temporary)
            .map(materializeHidden).getOrElse(bare)
        else bare
      sb.append(stmt.substring(pos, m.start)).append(repl)
      pos = m.end
    }
    sb.append(stmt.substring(pos))
    sb.toString
  }

  private def materializeHidden(perm: MeasureView): String = {
    val hidden = hiddenNameOf(perm.viewName.toLowerCase)
    // always re-materialize: the permanent definition may have been replaced
    // since a previous qualified read registered the hidden twin
    val hiddenSql = perm.cleanViewSql.replaceFirst(
      "(?i)\\bVIEW\\s+" + java.util.regex.Pattern.quote(perm.viewName) + "\\b",
      "VIEW " + hidden)
    if (hiddenSql != perm.cleanViewSql && perm.cleanViewSql.nonEmpty) spark.sql(hiddenSql)
    catalog.register(perm.copy(viewName = hidden, cleanViewSql = hiddenSql))
    batchHidden += hidden
    hidden
  }

  private val ctasRe =
    "(?is)^\\s*(CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMPORARY\\s+|TEMP\\s+)?TABLE\\s+[\\w.]+\\s+AS)\\s+(\\(?\\s*(?:SELECT|WITH)\\b.*)$".r
  private val insertRe =
    "(?is)^\\s*(INSERT\\s+INTO\\s+[\\w.]+(?:\\s*\\([^)]*\\))?(?:\\s+BY\\s+NAME)?)\\s*(\\(?\\s*(?:SELECT|WITH)\\b.*)$".r
  private val viewBodyRe =
    "(?is)^\\s*(CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMPORARY\\s+|TEMP\\s+)?VIEW\\s+[\\w.]+\\s+AS)\\s+(\\(?\\s*(?:SELECT|WITH)\\b.*)$".r

  /** Split "DDL-prefix + SELECT body" statements so the body can be
    * measure-expanded. Parenthesized bodies are unwrapped.
    */
  private def wrapPrefix(stmt: String): Option[(String, String)] = {
    val m = stmt match {
      case ctasRe(p, b) => Some((p, b))
      case insertRe(p, b) => Some((p, b))
      case viewBodyRe(p, b) => Some((p, b))
      case _ => None
    }
    m.map { case (p, b) => (p, Scan.unwrapParens(b).getOrElse(b).trim) }
  }

  /** Relation names a query references (lowercased last part), CTE-defined
    * names excluded; subquery expressions included. Parse failures return
    * empty — the caller's own CREATE will surface the real error.
    */
  private def referencedRelations(sql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    try {
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      val cteNames = plan.collectWithSubqueries {
        case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
      }.flatten.toSet
      plan.collectWithSubqueries {
        case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
      }.toSet -- cteNames
    } catch { case _: Exception => Set.empty }
  }

  /** Register the clean view + catalog entry for an AS MEASURE CREATE VIEW.
    * Decomposable and derived measures become typed NULL placeholder
    * columns (virtual columns, measures.rs:4520-4524); non-decomposable and
    * window measures stay materialized, with GROUP BY ALL appended when the
    * view had no GROUP BY (measures.rs:4552-4570).
    */
  private def registerMeasureView(p: ParsedMeasureView): DataFrame = {
    val tempName = Scan.lastPart(p.viewName)
    // Measure view over a measure view (r12 verdict task 4): v1's clean
    // view exposes NULL placeholder columns for its measures, so v2 would
    // silently aggregate NULLs — a corner the reference corpus never
    // exercises in either direction (no measures.test view references
    // another measure view in FROM). Guided error beats silent NULLs.
    // self-reference under OR REPLACE is the same hazard: the captured old
    // plan's measure columns are NULL placeholders too
    val nested = referencedRelations(p.baseRelationSql)
      .filter(n => catalog.get(n).isDefined)
    if (nested.nonEmpty)
      throw new graft.planner.GraftException(
        s"measure view '${p.viewName}' references measure view" +
          s" '${nested.head}' in FROM: nesting measure views is not supported" +
          " (the inner view's measure columns are NULL placeholders outside" +
          " AGGREGATE()). Query the inner view with AGGREGATE() directly, or" +
          " materialize it first (CREATE TABLE ... AS SELECT ... AGGREGATE(...))" +
          " and build the view on the result")

    var mv = MeasureView(
      viewName = tempName,
      measures = p.measures,
      baseRelationSql = p.baseRelationSql,
      dimensionExprs = p.dimensionExprs,
      dimensionOrder = p.dimensionOrder,
      groupByCols = p.groupByCols,
      temporary = p.temporary
    )

    def probeType(expr: String): String = {
      val sub = substDerived(expr, mv)
      val df = spark.sql(s"SELECT $sub AS __probe FROM (${p.baseRelationSql}) __b")
      df.schema.head.dataType.sql
    }

    def cleanItem(m: graft.catalog.ViewMeasure): String = m.kind match {
      case MeasureKind.NonDecomposable | MeasureKind.Window =>
        s"${m.expression} AS ${m.name}"
      case _ =>
        val dt = try probeType(m.expression) catch { case _: Exception => "DOUBLE" }
        s"CAST(NULL AS $dt) AS ${m.name}"
    }

    val ctePfx = if (p.ctePrefix.isEmpty) "" else p.ctePrefix + " "
    val cleanSql =
      if (p.setOpBranches.nonEmpty) {
        // set-op body: render branch-by-branch, replacing each branch's
        // measure slots in place (every declaring branch, not just the
        // first — reference replaces all AS MEASURE occurrences). GROUP BY
        // ALL is appended PER BRANCH that materializes a non-decomposable
        // slot (the reference appends once at the end of the whole clean
        // query, which lands on the last branch only).
        val rendered = p.setOpBranches.map { br =>
          val bItems = br.items.map {
            case Left(dim) => dim
            case Right(m) => cleanItem(m)
          }
          val needsAll = br.clauses.groupBy.isEmpty && br.items.exists {
            case Right(m) => m.kind == MeasureKind.NonDecomposable
            case _ => false
          }
          val sel0 = graft.syntax.MeasureDdl.renderBranch(br.clauses, bItems, groupByAll = needsAll)
          val sel = if (br.parenWrapped) s"($sel0)" else sel0
          if (br.op.isEmpty) sel else s"${br.op} $sel"
        }.mkString(" ")
        val tail = if (p.setOpTail.isEmpty) "" else s" ${p.setOpTail}"
        s"CREATE OR REPLACE TEMPORARY VIEW $tempName AS $ctePfx$rendered$tail"
      } else {
        val cleanItems = p.items.map {
          case Left(dim) => dim
          case Right(m) => cleanItem(m)
        }
        val needsGroupByAll = p.clauses.groupBy.isEmpty &&
          p.measures.exists(_.kind == MeasureKind.NonDecomposable)
        val groupSql = p.clauses.groupBy.map(g => s" GROUP BY $g")
          .getOrElse(if (needsGroupByAll) " GROUP BY ALL" else "")
        val whereSql = p.clauses.where.map(w => s" WHERE $w").getOrElse("")
        val fromSql = p.clauses.from.map(f => s" FROM $f").getOrElse("")
        s"CREATE OR REPLACE TEMPORARY VIEW $tempName AS ${ctePfx}SELECT ${cleanItems.mkString(", ")}$fromSql$whereSql$groupSql"
      }

    val prev = catalog.snapshot()
    try {
      val res = spark.sql(cleanSql)
      mv = mv.copy(cleanViewSql = cleanSql)
      catalog.register(mv)
      baseColsCache.remove(tempName.toLowerCase)
      if (p.temporary) {
        val lname = tempName.toLowerCase
        // first creation wins: a re-CREATE TEMP of the same live name keeps
        // the original shadow (the reference's snapshot chain nets out the
        // same way when restored in order)
        if (!batchTempCreated.contains(lname)) batchShadowed(lname) = prev.get(lname)
        batchTempCreated += lname
      }
      res
    } catch {
      case e: Throwable =>
        catalog.restore(prev)
        throw e
    }
  }

  private def substDerived(expr: String, v: MeasureView): String =
    Scan.mapColumnRefs(expr, { tok =>
      v.measure(Scan.lastPart(tok).toLowerCase).map(m => s"(${m.expression})")
    })

  /** Session-scope non-measure DDL: CREATE [OR REPLACE] VIEW -> TEMPORARY
    * so that plain views and measure views live in the same (session)
    * namespace and DROP VIEW behaves uniformly.
    */
  private def normalizeDdl(stmt: String): String = {
    val re = "(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\s+".r
    re.findFirstMatchIn(stmt) match {
      case Some(_) =>
        stmt.replaceFirst("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?VIEW\\s+",
          "CREATE OR REPLACE TEMPORARY VIEW ")
      case None => stmt
    }
  }
}

object GraftEngine {
  def apply(spark: SparkSession): GraftEngine = new GraftEngine(spark)
}
