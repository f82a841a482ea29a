package graft.planner

import java.util.concurrent.atomic.AtomicInteger

import graft.catalog.{MeasureCatalog, MeasureKind, MeasureView}
import graft.syntax._

final class GraftException(msg: String) extends RuntimeException(msg)

/** Rewrites a measure query (AGGREGATE / AT / bare measure refs / {m}) into
  * plain Spark SQL.
  *
  * The reference expands each AGGREGATE call into a correlated scalar
  * subquery and relies on DuckDB to decorrelate
  * (/root/reference/yardstick-rs/src/sql/measures.rs:7110-7592). Spark's
  * correlated-subquery support is restricted, and the reference's own
  * join plan (build_non_decomposable_join_plan, measures.rs:5249-5403) is
  * plain relational algebra — so we emit that join plan directly:
  *
  * {{{
  * WITH __base AS (<base relation>),
  *      __outer AS (SELECT dims..., <inline visible-context aggs>
  *                  FROM __base [WHERE w] [GROUP BY dims]),
  *      __f1 AS (SELECT keys..., <agg> AS __v FROM __base [WHERE f] GROUP BY keys)
  * SELECT ... FROM __outer LEFT JOIN __f1 ON __outer.d <=> __f1.__k0 ...
  * }}}
  *
  * Catalyst then provides partial aggregation, AQE, broadcast-vs-sort-merge
  * selection (1-row grand-total frames always broadcast) and shuffle reuse.
  * Identical (measure, context) frames are deduplicated at plan time — the
  * reference re-expands each call independently.
  *
  * @param baseColumns viewNameLower -> base relation column names (lowercase),
  *                    used for multi-fact dim/filter ownership
  */
final class QueryExpander(catalog: MeasureCatalog, baseColumns: String => Set[String],
                          warningSink: String => Unit = _ => (),
                          usageSink: String => Unit = _ => ()) {

  private val uid = new AtomicInteger(0)

  private case class DimSpec(queryExpr: String, outName: String)
  private case class FromTable(name: String, alias: String)

  /** A CTE the outer query LEFT JOINs (`ON true` when it has no keys). */
  private trait JoinedFrame { def cte: String; def joinOn: Option[String] }
  private def leftJoins(frames: Iterable[JoinedFrame]): String =
    frames.map(f => s" LEFT JOIN ${f.cte} ON ${f.joinOn.getOrElse("true")}").mkString

  /** Merge key of a context frame: measures of the same view evaluated in
    * the same (base, grouping keys, SET values, filter, window) context
    * share one frame. Expressions are compared normalized.
    */
  private case class FrameKey(view: String, baseCte: String, innerKeys: List[String],
                              setValues: List[String], filter: Option[String], window: Boolean)

  /** A context frame shared by every measure evaluated in the same
    * (grouping keys, SET conditions, filter) context: one shuffle produces
    * N value columns. The reference expands each call into its own subquery
    * (no sharing); merging is the optimizer rule SURVEY §4.2 flags as ours.
    */
  private final class MergedFrame(val cte: String, val view: MeasureView, val baseCte: String,
                                  val innerKeys: List[String], val hasSets: Boolean,
                                  val whereSql: Option[String], val joinOn: Option[String],
                                  val isWindow: Boolean) extends JoinedFrame {
    // (valueCol, aggExprSql, windowGuardMeasureName)
    val values = scala.collection.mutable.LinkedHashMap[String, (String, Option[String])]()
    private val byExpr = scala.collection.mutable.HashMap[String, String]()
    def valueCol(exprSql: String, guardName: Option[String]): String =
      byExpr.getOrElseUpdate(graft.syntax.Scan.norm(exprSql) + guardName.getOrElse(""), {
        val col = s"__v${values.size}"
        values.put(col, (exprSql, guardName))
        col
      })
    def sql: String = {
      val where = whereSql.map(w => s" WHERE $w").getOrElse("")
      if (!isWindow) {
        val valueCols = values.map { case (col, (e, _)) => s"$e AS $col" }.mkString(", ")
        if (innerKeys.isEmpty) s"SELECT $valueCols FROM $baseCte$where"
        else {
          val keyCols = innerKeys.zipWithIndex.map { case (k, i) => s"$k AS __k$i" }.mkString(", ")
          s"SELECT $keyCols, $valueCols FROM $baseCte$where GROUP BY ${innerKeys.mkString(", ")}"
        }
      } else {
        // per-row window values in context, then a single-distinct-value
        // guard per measure (measures.rs:5233-5247)
        val wCols = values.zipWithIndex.map { case ((_, (e, _)), j) => s"$e AS __w$j" }.mkString(", ")
        val guards = values.zipWithIndex.map { case ((col, (_, g)), j) =>
          val name = g.getOrElse("window measure")
          // try_element_at, not element_at: an EMPTY context (scalar frame
          // whose filter matches nothing) must yield NULL like every other
          // empty-context aggregate, not an ANSI array-index error
          s"CASE WHEN size(collect_set(__w$j)) > 1 THEN raise_error(concat('Window measure $name is not single-valued in this context: ', cast(size(collect_set(__w$j)) AS STRING), ' distinct values')) ELSE try_element_at(collect_set(__w$j), 1) END AS $col"
        }.mkString(", ")
        if (innerKeys.isEmpty)
          s"SELECT $guards FROM (SELECT $wCols FROM $baseCte$where)"
        else {
          val innerCols = innerKeys.zipWithIndex.map { case (k, i) => s"$k AS __ik$i" }.mkString(", ")
          val keyCols = innerKeys.indices.map(i => s"__ik$i AS __k$i").mkString(", ")
          s"SELECT $keyCols, $guards FROM (SELECT $innerCols, $wCols FROM $baseCte$where) GROUP BY ${innerKeys.indices.map(i => s"__ik$i").mkString(", ")}"
        }
      }
    }
  }

  /** Expand a statement; None = not a measure query (passthrough). */
  def expand(stmtRaw: String): Option[String] = expand(stmtRaw, Set.empty)

  /** @param cteNames WITH-clause names in scope — they shadow measure views
    *                 of the same name (the user's CTE wins, as in the
    *                 reference where binder scoping resolves CTEs first)
    */
  private def expand(stmtRaw: String, cteNames: Set[String]): Option[String] = {
    // comments must go before reassembly onto one line (a surviving line
    // comment would swallow the rest of the generated statement); qualified
    // refs written as `s . year` are tightened so the identifier scanner
    // sees one token
    val stmt = expandCurly(normalizeDots(Scan.blankComments(stmtRaw)).trim.stripSuffix(";"))
    if (Scan.wordAt(stmt, 0, "WITH"))
      // expandWith recurses into every CTE body and the main query with the
      // correct accumulated CTE scope — rescanning the whole WITH here would
      // resolve CTE-shadowed names against the catalog again
      SqlClauses.splitWith(stmt).flatMap(expandWith(stmt, _, cteNames))
    else
      // a NON-measure statement may still hold measure queries in subquery
      // positions (EXISTS / IN / scalar / derived tables) — expand each
      // parenthesized SELECT body recursively (reference: expand_cte_queries
      // recursion covers subqueries, measures.rs:2113-2251)
      expandSelect(stmt, cteNames).orElse(expandSubqueries(stmt, cteNames))
  }

  /** Expand measure queries nested in `( SELECT ... )` spans of a statement
    * that is not itself a measure query. Outermost spans only — the
    * recursive expand() call handles deeper nesting.
    */
  private def expandSubqueries(stmt: String, cteNames: Set[String]): Option[String] = {
    val mask = Scan.buildMask(stmt)
    val repls = scala.collection.mutable.ListBuffer[(Int, Int, String)]()
    var i = 0
    while (i < stmt.length) {
      if (!mask(i) && stmt.charAt(i) == '(') {
        var j = i + 1
        while (j < stmt.length && (stmt.charAt(j).isWhitespace || mask(j))) j += 1
        if (Scan.wordAt(stmt, j, "SELECT") || Scan.wordAt(stmt, j, "WITH")) {
          val close = Scan.matchParen(stmt, mask, i)
          if (close > 0) {
            val body = stmt.substring(i + 1, close)
            expand(body, cteNames) match {
              case Some(e) => repls += ((i + 1, close, e))
              case None =>
            }
            i = close // skip past this span (inner spans handled recursively)
          }
        }
      }
      i += 1
    }
    if (repls.isEmpty) None
    else {
      val sb = new StringBuilder(stmt)
      for ((s, e, rep) <- repls.sortBy(-_._1)) sb.replace(s, e, rep)
      Some(sb.toString)
    }
  }

  // ---------------------------------------------------------------- CTEs

  /** Expand each top-level CTE body and the main query independently.
    * (Reference: expand_cte_queries, measures.rs:2113-2251.)
    */
  private def expandWith(stmt: String, w: WithList, outerCtes: Set[String]): Option[String] = {
    val main = stmt.substring(w.mainStart)
    var changed = false
    // each CTE body sees the names declared BEFORE it; the main query sees
    // all of them — in-scope CTE names shadow same-named measure views
    var inScope = outerCtes
    // under RECURSIVE every body may reference any CTE of the list (incl.
    // itself), so those bodies get the full name set
    val allNames = outerCtes ++ w.ctes.map(_.name.toLowerCase)
    val newCtes = w.ctes.map { cte =>
      val expanded =
        if (w.recursive)
          // a recursive body's top level has a fixed anchor/recursive-term
          // shape that the WITH-wrapped frame rewrite would break — expand
          // only nested subquery spans, with the full CTE scope
          expandSubqueries(cte.body, allNames)
        else expand(cte.body, inScope)
      if (expanded.isDefined) changed = true
      inScope = inScope + cte.name.toLowerCase
      s"${cte.header} AS (${expanded.getOrElse(cte.body)})"
    }
    val mainExpanded = expand(main, inScope)
    if (mainExpanded.isDefined) changed = true
    if (!changed) None
    else Some(s"WITH ${if (w.recursive) "RECURSIVE " else ""}${newCtes.mkString(", ")} ${mainExpanded.getOrElse(main)}")
  }

  /** Collapse whitespace around '.' in qualified references (outside
    * literals): `s . year` -> `s.year`.
    */
  private def normalizeDots(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (!mask(i) && sql.charAt(i).isWhitespace) {
        var j = i
        while (j < sql.length && !mask(j) && sql.charAt(j).isWhitespace) j += 1
        val prevOk = sb.nonEmpty && Scan.isIdentChar(sb.last)
        if (prevOk && j < sql.length && !mask(j) && sql.charAt(j) == '.') {
          var k = j + 1
          while (k < sql.length && !mask(k) && sql.charAt(k).isWhitespace) k += 1
          if (k < sql.length && !mask(k) && (sql.charAt(k).isLetter || sql.charAt(k) == '_')) {
            sb.append('.')
            i = k
          } else { sb.append(sql.substring(i, j)); i = j }
        } else { sb.append(sql.substring(i, j)); i = j }
      } else { sb.append(sql.charAt(i)); i += 1 }
    }
    sb.toString
  }

  // ------------------------------------------------------------- sugar

  /** `{m}` -> `AGGREGATE(m)` (reference: expand_curly_braces,
    * measures.rs:994-1018).
    */
  private def expandCurly(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "\\{\\s*([A-Za-z_][\\w.]*)\\s*\\}".r
    val sb = new StringBuilder
    var pos = 0
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      if (m.start >= pos) {
        sb.append(sql.substring(pos, m.start))
        sb.append(s"AGGREGATE(${m.group(1)})")
        pos = m.end
      }
    }
    sb.append(sql.substring(pos))
    sb.toString
  }

  // ------------------------------------------------------------- SELECT

  /** token -> base-level text for view v: strip any known FROM-alias
    * qualifier (including foreign aliases — a dim like `o.year` correlates
    * by bare name against another view's base), then apply the view's
    * dimension alias definitions.
    */
  private def substToBase(text: String, v: MeasureView, aliases: Set[String]): String = {
    Scan.mapColumnRefs(text, { tok =>
      val stripped = Scan.stripQual(tok, aliases)
      if (stripped != tok || !tok.contains('.')) {
        v.dimensionExprs.get(stripped.toLowerCase) match {
          case Some(e) if Scan.norm(e) != Scan.norm(stripped) => Some(s"($e)")
          case _ => if (stripped != tok) Some(stripped) else None
        }
      } else None
    })
  }

  /** Substitute sibling-measure references in a derived measure expression.
    * (Reference: expand_derived_measure_expr, measures.rs:3214-3300.)
    */
  private def substituteDerived(expr: String, v: MeasureView, depth: Int = 0): String = {
    if (depth > 8) throw new GraftException(s"Derived measure recursion too deep in view ${v.viewName}")
    Scan.mapColumnRefs(expr, { tok =>
      val name = Scan.lastPart(tok).toLowerCase
      v.measure(name).map { m =>
        val e = if (m.kind == MeasureKind.Derived) substituteDerived(m.expression, v, depth + 1)
                else m.expression
        s"($e)"
      }
    })
  }

  private def containsAgg(text: String): Boolean =
    Scan.identifiers(text, Scan.buildMask(text), 0, text.length).exists { case (tok, _, e) =>
      Scan.isCallAt(text, e) && MeasureDdl.aggregateFns.contains(Scan.lastPart(tok).toLowerCase)
    }

  /** `alias.col` -> `col` for any FROM alias; other tokens unchanged. */
  private def tokenToBase(allAliases: Set[String])(tok: String): Option[String] = {
    val stripped = Scan.stripQual(tok, allAliases)
    if (stripped != tok) Some(stripped) else None
  }

  /** Find sugar measure refs (bare `m` / `m AT (...)`) in an item, outside
    * existing call spans. (Reference: rewrite_implicit_measure_refs
    * measures.rs:735-786, rewrite_measure_at_refs :834-951.)
    */
  private def findSugarCalls(text: String, mask: Array[Boolean], taken: List[(Int, Int)],
                             measureNames: Set[String], aliases: Set[String]): List[AggCall] = {
    val ids = Scan.identifiers(text, mask, 0, text.length)
    val out = scala.collection.mutable.ListBuffer[AggCall]()
    for ((tok, s, e) <- ids) {
      val inTaken = taken.exists { case (a, b) => s >= a && s < b }
      val name = Scan.lastPart(tok)
      val qual = if (tok.contains('.')) Some(tok.substring(0, tok.lastIndexOf('.'))) else None
      val qualOk = qual.forall(q => aliases.contains(q.toLowerCase))
      if (!inTaken && qualOk && measureNames.contains(name.toLowerCase) &&
          // skip function calls, aliases (token right after AS) and
          // qualified-struct-ish refs preceded by '.' directly
          !Scan.isCallAt(text, e) && !Scan.followsAs(text, s) &&
          !text.substring(0, s).trim.endsWith(".")) {
        // m AT ( ... )?  chase the AT chain
        val (mods, end) = AtParser.chaseAt(text, mask, e, text.length)
        out += (if (mods.nonEmpty) AggCall(tok, mods, s, end, paperDefault = false)
                else AggCall(tok, Nil, s, e, paperDefault = true))
      }
    }
    out.toList
  }

  /** Replace call spans and map residual dim/alias tokens to __outer refs.
    * `gapTransform` runs on the text BETWEEN call spans before token
    * mapping (used to substitute whole expression-dim spans, which a
    * per-token map cannot see).
    */
  private def renderWithReplacements(text: String, spans: List[(Int, Int, String)],
                                     tokenMap: String => Option[String],
                                     gapTransform: String => String = identity): String = {
    val sorted = spans.sortBy(_._1)
    val sb = new StringBuilder
    var pos = 0
    for ((s, e, rep) <- sorted) {
      if (s >= pos) {
        sb.append(mapTokens(gapTransform(text.substring(pos, s)), tokenMap))
        sb.append(rep)
        pos = e
      }
    }
    sb.append(mapTokens(gapTransform(text.substring(pos)), tokenMap))
    sb.toString
  }

  /** mapColumnRefs + skip tokens right after AS (aliases). */
  private def mapTokens(text: String, f: String => Option[String]): String =
    Scan.mapColumnRefs(text, f, skipAliases = true)

  /** Rewrite a QUALIFY clause into plain Spark SQL (Spark has no QUALIFY).
    * The original query minus QUALIFY/ORDER BY/LIMIT becomes a FROM
    * subquery; the predicate — select aliases are now real columns, and
    * window functions evaluate over the post-GROUP BY/HAVING rows, exactly
    * DuckDB's QUALIFY timing — is computed as a hidden boolean column,
    * filtered on, and projected away with `* EXCEPT`. Running this BEFORE
    * measure expansion means an AGGREGATE-bearing query composes for free:
    * the inner subquery is expanded by the ordinary subquery recursion.
    * (Reference substrate: DuckDB QUALIFY, which the reference delegates
    * to — no corpus coverage, but a DuckDB user's queries may carry it.)
    * Known limit: the predicate sees only the select-list outputs, so it
    * cannot reference base columns that were not projected.
    */
  private def rewriteQualify(c: SelectClauses): String = {
    val u = uid.incrementAndGet()
    val qcol = s"__q$u"
    val core = new StringBuilder("SELECT ")
    if (c.distinct) core.append("DISTINCT ")
    core.append(c.selectList)
    c.from.foreach(f => core.append(s" FROM $f"))
    c.where.foreach(w => core.append(s" WHERE $w"))
    c.groupBy.foreach(g => core.append(s" GROUP BY $g"))
    c.having.foreach(h => core.append(s" HAVING $h"))
    val out = new StringBuilder(
      s"SELECT * EXCEPT ($qcol) FROM (SELECT *, (${c.qualify.get}) AS $qcol " +
        s"FROM ($core) __qb$u) __qf$u WHERE $qcol")
    c.orderBy.foreach(o => out.append(s" ORDER BY $o"))
    c.limitText.foreach(l => out.append(s" $l"))
    out.toString
  }

  /** Expand measure queries in the branches of a top-level set operation
    * (`SELECT … UNION [ALL] SELECT …`). Each branch expands independently
    * (every expansion mints unique CTE names), the WITH prefixes are
    * hoisted and concatenated ahead of the whole union, and the union's
    * trailing ORDER BY/LIMIT — which a branch cannot own without parens —
    * is re-attached at the end. Parenthesized branches with calls and
    * statements with their own user WITH stay on the passthrough path.
    */
  private def expandSetOp(stmt: String, cteNames: Set[String]): Option[String] = {
    // shared scanner: skips Spark's select-list `* EXCEPT (col)` form, keeps
    // ALL/DISTINCT modifiers, and splits off the whole-union tail
    val (opBranches, tail) = SqlClauses.splitSetOp(stmt)
    if (opBranches.isEmpty) return None
    val branches = opBranches.map(_._2)

    def hasCall(b: String): Boolean = {
      val bm = Scan.buildMask(b)
      AtParser.extractCalls(b, bm, 0, b.length).nonEmpty
    }
    // scope guard: parenthesized branches with calls keep the old path
    if (branches.exists(b => b.startsWith("(") && hasCall(b))) return None

    var any = false
    val expandedBranches = branches.map { b =>
      if (b.startsWith("(")) b
      else expandSelect(b, cteNames) match {
        case Some(e) => any = true; e
        case None => b
      }
    }
    if (!any) return None

    // hoist each expanded branch's WITH prefix (generated CTE names are
    // globally unique, so concatenation cannot collide)
    val parts = expandedBranches.map(sql => SqlClauses.splitWith(sql) match {
      case Some(w) => (w.ctes.map(_.raw), sql.substring(w.mainStart).trim)
      case None => (Nil, sql.trim)
    })
    val allCtes = parts.flatMap(_._1)
    val joined = opBranches.map(_._1).zip(parts.map(_._2))
      .map { case (op, b) => if (op.isEmpty) b else s" $op $b" }.mkString
    val prefix = if (allCtes.isEmpty) "" else s"WITH ${allCtes.mkString(", ")} "
    Some(prefix + joined + (if (tail.isEmpty) "" else " " + tail))
  }

  private def expandSelect(stmt: String, cteNames: Set[String] = Set.empty): Option[String] = {
    val clauses = SqlClauses.parse(stmt).getOrElse(return None)
    if (clauses.hasSetOp) return expandSetOp(stmt, cteNames)
    if (clauses.qualify.isDefined) {
      // always Some — even a measure-free query needs the rewrite for
      // Spark to parse it
      val rewritten = rewriteQualify(clauses)
      return Some(expand(rewritten, cteNames).getOrElse(rewritten))
    }
    val fromText = clauses.from.getOrElse(return None)
    // derived tables carry no name and take no part in measure resolution
    val tables = SqlClauses.fromItems(fromText).flatMap(i => i.name.map(FromTable(_, i.alias)))
    // a WITH-clause name shadows a same-named measure view: the FROM ref
    // reads the user's CTE, so it must not be measure-expanded (the table
    // stays in `tables` so its alias still participates in qualifier
    // stripping)
    val measureViews = tables.filter(t =>
      catalog.contains(t.name) && !cteNames.contains(t.name.toLowerCase))
    if (measureViews.isEmpty) return None
    val aliasToView: Map[String, MeasureView] =
      measureViews.flatMap(t => catalog.get(t.name).map(v => t.alias.toLowerCase -> v)).toMap ++
      measureViews.flatMap(t => catalog.get(t.name).map(v => t.name.toLowerCase -> v)).toMap
    val allAliases: Set[String] = tables.flatMap(t => List(t.alias.toLowerCase, t.name.toLowerCase)).toSet
    val measureNames: Set[String] = measureViews.flatMap(t => catalog.get(t.name).toList)
      .flatMap(_.measureNamesLower).toSet

    // call-site FILTER is not a measure operation in the reference either
    // (FILTER lives in the measure DEFINITION, measures.test:2807-2823);
    // fail with guidance instead of leaking a generated-SQL parse error
    for (c <- AtParser.extractCalls(stmt, Scan.buildMask(stmt), 0, stmt.length)
         if Scan.wordAt(stmt, Scan.skipWs(stmt, c.end), "FILTER"))
      throw new GraftException(
        "FILTER on AGGREGATE() is not supported: put the FILTER in the measure " +
          "definition (SUM(x) FILTER (WHERE ...) AS MEASURE m) or use AGGREGATE(m) AT (WHERE ...)")

    val singleFact = tables.length == 1 && measureViews.length == 1
    val primaryView = catalog.get(measureViews.head.name).get
    val primaryAliases = Set(measureViews.head.alias.toLowerCase, measureViews.head.name.toLowerCase)

    val u = uid.incrementAndGet()
    val outerName = s"__outer$u"

    // ---- per-item call discovery ---------------------------------------
    case class ItemInfo(text: String, calls: List[AggCall], kind: String,
                        exprNoAlias: String, alias: Option[String])
    def analyzeItem(item: String): ItemInfo = {
      val m = Scan.buildMask(item)
      val explicit = AtParser.extractCalls(item, m, 0, item.length)
      val sugar = findSugarCalls(item, m, explicit.map(c => (c.start, c.end)), measureNames, allAliases)
      val calls = (explicit ++ sugar).sortBy(_.start)
      val (expr, alias) = SqlClauses.splitAlias(item)
      val blanked = {
        val sb = new StringBuilder(item)
        for (c <- calls; i <- c.start until c.end) sb.setCharAt(i, ' ')
        sb.toString
      }
      val kind =
        if (calls.nonEmpty) "measure"
        else if (SqlClauses.isLiteral(expr)) "literal"
        else if (containsAgg(blanked)) "plainagg"
        else "dim"
      ItemInfo(item, calls, kind, expr, alias)
    }
    val items = clauses.selectItems.map(analyzeItem)

    // measure calls of a WHERE predicate: explicit AGGREGATE calls and
    // `m AT (...)` sugar; bare refs in WHERE stay ordinary columns
    def predicateCalls(w: String): List[AggCall] = {
      val wm = Scan.buildMask(w)
      val explicit = AtParser.extractCalls(w, wm, 0, w.length)
      explicit ++ findSugarCalls(w, wm, explicit.map(c => (c.start, c.end)), measureNames, allAliases)
        .filter(_.modifiers.nonEmpty)
    }
    // Row-level mode (paper Listing 12): AGGREGATE calls in the WHERE clause
    // of an ungrouped, call-free-select query filter individual base rows
    val whereCalls: List[AggCall] = clauses.where.toList.flatMap(predicateCalls)
    if (whereCalls.nonEmpty) {
      val rowLevelOk = singleFact && clauses.groupBy.isEmpty &&
        items.forall(_.calls.isEmpty) && !items.exists(_.kind == "plainagg") &&
        clauses.having.isEmpty
      if (rowLevelOk)
        return Some(expandRowLevel(clauses, primaryView, primaryAliases, allAliases, whereCalls))
      // grouped queries: handled below via the filtered-base CTE(s) —
      // single-fact filters the one base through __vbase; multi-fact
      // filters each predicated view's base through its own per-view vbase
    }

    val anyCalls = items.exists(_.calls.nonEmpty) || whereCalls.nonEmpty ||
      clauses.having.exists(h => AtParser.extractCalls(h, Scan.buildMask(h), 0, h.length).nonEmpty) ||
      clauses.orderBy.exists(o => AtParser.extractCalls(o, Scan.buildMask(o), 0, o.length).nonEmpty)
    if (!anyCalls) return None

    // ---- dims ----------------------------------------------------------
    var dimCounter = -1
    def freshDim(): String = { dimCounter += 1; s"__d$dimCounter" }
    val usedNames = scala.collection.mutable.Set[String]()
    def uniqueName(base: String): String = {
      var n = base
      var i = 1
      while (usedNames.contains(n.toLowerCase)) { n = base + "_" + i; i += 1 }
      usedNames += n.toLowerCase
      n
    }
    def dimFor(expr: String, alias: Option[String]): DimSpec = {
      val out = alias.orElse(SqlClauses.plainColumnName(expr)).getOrElse(freshDim())
      DimSpec(expr.trim, uniqueName(out))
    }

    var groupWrapper = "" // "", "ROLLUP", "CUBE", "GROUPING SETS"
    var groupingSetsRaw = "" // inner text of GROUPING SETS(...), query-level
    val dims: List[DimSpec] = clauses.groupBy match {
      case Some(g0) =>
        var g = g0.trim
        val gm0 = Scan.buildMask(g)
        if (g.equalsIgnoreCase("ALL")) {
          items.filter(_.kind == "dim").map(i => dimFor(i.exprNoAlias, i.alias))
        } else {
          val gsSeq = Scan.findTopLevelSeq(g, gm0, Seq("GROUPING", "SETS"), 0, g.length)
          if (gsSeq != null && gsSeq._1 == 0)
            Scan.unwrapParens(g.substring(gsSeq._2)).foreach { inner =>
              groupWrapper = "GROUPING SETS"
              groupingSetsRaw = inner
              // dims = distinct column refs across all sets, in order
              g = Scan.columnRefs(inner, Scan.buildMask(inner), 0, inner.length)
                .map(_._1).distinct.mkString(", ")
            }
          for (w <- List("ROLLUP", "CUBE")
               if groupWrapper.isEmpty && g.length > w.length && g.regionMatches(true, 0, w, 0, w.length))
            Scan.unwrapParens(g.substring(w.length)).foreach { inner =>
              groupWrapper = w
              g = inner
            }
          val gm = Scan.buildMask(g)
          val parts = Scan.splitTopLevel(g, gm, ',', 0, g.length)
            .map { case (s, e) => g.substring(s, e).trim }.filter(_.nonEmpty)
          parts.map { p =>
            if (p.matches("\\d+")) {
              val idx = p.toInt - 1
              if (idx < 0 || idx >= items.length)
                throw new GraftException(s"GROUP BY position ${p} out of range")
              val it = items(idx)
              dimFor(it.exprNoAlias, it.alias)
            } else {
              items.find(it => it.kind == "dim" &&
                  (it.alias.exists(_.equalsIgnoreCase(p)) ||
                   Scan.norm(it.exprNoAlias) == Scan.norm(p))) match {
                case Some(it) => dimFor(it.exprNoAlias, it.alias)
                case None => dimFor(p, None)
              }
            }
          }
        }
      case None =>
        items.filter(_.kind == "dim").map(i => dimFor(i.exprNoAlias, i.alias))
    }

    val itemAliases: Set[String] = items.flatMap(_.alias).map(_.toLowerCase).toSet
    /** Substitute whole expression-dim spans (`MONTH(order_date)` when
      * grouped by that expression) with the outer dim column — a per-token
      * map cannot rewrite base-column references nested inside an
      * expression the outer aggregated away. Exact-substring match at
      * token boundaries, outside string literals; plain-column dims stay
      * with the token map.
      */
    def replaceDimSpans(text: String): String = {
      var t = text
      for (d <- dims.sortBy(-_.queryExpr.length)
           if SqlClauses.plainColumnName(d.queryExpr).isEmpty) {
        val pat = d.queryExpr
        val mask = Scan.buildMask(t)
        val sb = new StringBuilder
        var i = 0
        while (i < t.length) {
          if (!mask(i) && t.regionMatches(true, i, pat, 0, pat.length) &&
              (i == 0 || !Scan.isIdentChar(t.charAt(i - 1))) &&
              (i + pat.length >= t.length || !Scan.isIdentChar(t.charAt(i + pat.length)))) {
            sb.append(s"$outerName.${d.outName}")
            i += pat.length
          } else { sb.append(t.charAt(i)); i += 1 }
        }
        t = sb.toString
      }
      t
    }

    def dimTokenMap(tok: String): Option[String] = {
      val stripped = Scan.stripQual(tok, allAliases)
      dims.find(d =>
        d.outName.equalsIgnoreCase(stripped) ||
        Scan.lastPart(d.queryExpr).equalsIgnoreCase(stripped) && SqlClauses.plainColumnName(d.queryExpr).isDefined
      ).map(d => s"$outerName.${d.outName}")
        // `alias.output_alias` (reference allows FROM-alias-qualified refs to
        // output aliases in ORDER BY); Spark resolves only the bare alias
        .orElse(if (stripped != tok && itemAliases.contains(stripped.toLowerCase)) Some(stripped) else None)
        // DuckDB's literal `alias.` output-namespace (measures.test:1190): a
        // qualifier spelled `alias` that is NOT a real FROM table refers to
        // the output alias — unless a real table named `alias` shadows it
        .orElse {
          val dot = tok.indexOf('.')
          if (dot > 0 && tok.substring(0, dot).equalsIgnoreCase("alias") &&
              !allAliases.contains("alias") &&
              itemAliases.contains(tok.substring(dot + 1).toLowerCase))
            Some(tok.substring(dot + 1))
          else None
        }
    }

    // ---- resolve calls to views + fold contexts ------------------------
    // bare measure names resolve against the non-CTE-shadowed FROM tables
    val resolvableTables = tables.map(_.name).filterNot(n => cteNames.contains(n.toLowerCase))
    case class PlannedCall(call: AggCall, view: MeasureView, viewAliases: Set[String], ctx: EvalCtx)
    def planCall(c: AggCall): PlannedCall = {
      val v = c.qualifier match {
        case Some(q) =>
          // qualifier may be a FROM alias of a measure view
          aliasToView.get(q.toLowerCase).flatMap { view =>
            if (view.measureNamesLower.contains(c.measureName.toLowerCase)) Some(view) else None
          }.getOrElse(
            catalog.resolveMeasure(c.measureName, resolvableTables)
              .getOrElse(throw new GraftException(s"Unknown measure: ${c.measureRaw}")))
        case None =>
          catalog.resolveMeasure(c.measureName, resolvableTables)
            .getOrElse(throw new GraftException(s"Unknown measure: ${c.measureRaw}"))
      }
      val valiases = tables.filter(_.name.equalsIgnoreCase(v.viewName))
        .flatMap(t => List(t.alias.toLowerCase, t.name.toLowerCase)).toSet + v.viewName.toLowerCase
      usageSink(v.viewName.toLowerCase)
      PlannedCall(c, v, valiases, ContextFold.fold(c.modifiers, c.paperDefault))
    }

    // ---- ownership helpers (multi-fact) --------------------------------
    // A dim belongs to view v when its qualifier is v's alias, OR its bare
    // name is one of v's dimension/base columns (reference:
    // measure_group_by_cols.retain, measures.rs:7284-7295).
    // Scan.identifiers returns SQL keywords as tokens; ownership checks must
    // not mistake them for column references (e.g. `x IS NULL OR y IN (...)`)
    def isSqlKeyword(tok: String): Boolean = sqlKeywords(tok.toLowerCase)
    def tokenOwnedBy(tok: String, v: MeasureView, valiases: Set[String]): Boolean = {
      val dot = tok.indexOf('.')
      val n = Scan.lastPart(tok).toLowerCase
      val nameOwned = v.dimensionExprs.contains(n) || v.measureNamesLower.contains(n) ||
        baseColumns(v.viewName.toLowerCase).contains(n)
      if (dot > 0) valiases.contains(tok.substring(0, dot).toLowerCase) || nameOwned
      else nameOwned
    }
    def columnTokens(expr: String): List[String] =
      Scan.columnRefs(expr, Scan.buildMask(expr), 0, expr.length).map(_._1).filterNot(isSqlKeyword)
    def exprOwnedBy(expr: String, v: MeasureView, valiases: Set[String]): Boolean = {
      val cols = columnTokens(expr)
      cols.nonEmpty && cols.forall(tokenOwnedBy(_, v, valiases))
    }
    def ownedConjuncts(where: String, v: MeasureView, valiases: Set[String]): Option[String] = {
      val mask = Scan.buildMask(where)
      val parts = splitTopAnd(where, mask)
      val kept = parts.filter(p => exprOwnedBy(p, v, valiases))
      if (kept.isEmpty) None else Some(kept.mkString(" AND "))
    }

    // ---- frame construction --------------------------------------------
    val baseCtes = scala.collection.mutable.LinkedHashMap[String, String]() // cteName -> sql
    // registers the view's base CTE on first use; only the registrations
    // made before the CTE list is assembled are emitted
    def baseCteFor(v: MeasureView): String = {
      val name = s"__base${u}_${v.viewName.toLowerCase.replaceAll("\\W", "_")}"
      baseCtes.getOrElseUpdate(name, v.baseRelationSql)
      name
    }

    val frames = scala.collection.mutable.LinkedHashMap[FrameKey, MergedFrame]()
    var frameCounter = -1
    val inlineAggs = scala.collection.mutable.LinkedHashMap[String, (String, String)]() // sig -> (col, aggExpr)
    var inlineCounter = -1

    val outerWhere = clauses.where

    // Grouped WHERE with measure calls: base rows are filtered through
    // row-level frames FIRST (__vbase), and the visible context reads the
    // filtered base. (Reference: expand_aggregate_with_at handles
    // WHERE-position calls, measures.rs:7110-7592.) Non-visible contexts
    // (AT ALL / SET / WHERE) keep reading the unfiltered base, exactly as a
    // plain WHERE is ignored by them today.
    val vbaseName = s"__vbase$u"
    val rowWhere: Option[(List[RowFrame], String)] =
      if (whereCalls.isEmpty || !singleFact) None
      else {
        val baseName = baseCteFor(primaryView)
        val (rframes, spans) =
          buildRowFrames(u, baseName, primaryView, primaryAliases, allAliases, whereCalls)
        Some((rframes, renderWithReplacements(outerWhere.get, spans, tokenToBase(allAliases))))
      }

    // Multi-fact measure-predicate WHERE: split the outer WHERE into
    // top-level AND conjuncts. Call-free conjuncts stay the plain outer
    // WHERE on the join; each call-bearing conjunct must be owned by
    // exactly one view and filters that view's BASE rows through row-level
    // frames in a per-view filtered base (`__vbase{u}_vN`) — the multi-fact
    // generalization of the single-fact __vbase path. The join FROM then
    // reads each predicated view's surviving dim combinations (see
    // dedupJoinFrom), and that view's visible frames read its vbase.
    // (Reference handles WHERE-position calls uniformly by rewriting each
    // call to a correlated scalar subquery, measures.rs:7110-7592; the join
    // formulation here is the plan-shaped equivalent.)
    case class ViewPredicate(view: MeasureView, valiases: Set[String],
                             vbase: String, rframes: List[RowFrame], rendered: String)
    val (multiPlainWhere: Option[String], viewPredicates: List[ViewPredicate]) =
      if (whereCalls.isEmpty || singleFact) (outerWhere, Nil)
      else {
        val w = outerWhere.get
        val classified = splitTopAnd(w, Scan.buildMask(w)).map(p => (p, predicateCalls(p)))
        val plain = classified.collect { case (p, Nil) => p }
        val byView = scala.collection.mutable.LinkedHashMap[String, (MeasureView, Set[String], List[String])]()
        for ((p, cs) <- classified if cs.nonEmpty) {
          val planned = cs.map(planCall)
          val views = planned.map(_.view.viewName.toLowerCase).distinct
          if (views.length > 1)
            throw new GraftException(
              s"a WHERE conjunct may reference measures of only one view; `$p` mixes ${views.mkString(", ")}")
          val pc = planned.head
          // every non-call column in the conjunct must belong to the same view
          val blanked = {
            val sb = new StringBuilder(p)
            for (c <- cs; i <- c.start until math.min(c.end, sb.length)) sb.setCharAt(i, ' ')
            sb.toString
          }
          val foreign = columnTokens(blanked).filterNot(tokenOwnedBy(_, pc.view, pc.viewAliases))
          if (foreign.nonEmpty)
            throw new GraftException(
              s"WHERE measure predicate `$p` on view ${pc.view.viewName} references " +
                s"column(s) ${foreign.mkString(", ")} of another view; correlate via AT (WHERE ...) instead")
          val cur = byView.getOrElseUpdate(pc.view.viewName.toLowerCase, (pc.view, pc.viewAliases, Nil))
          byView(pc.view.viewName.toLowerCase) = (cur._1, cur._2, cur._3 :+ p)
        }
        val preds = byView.values.zipWithIndex.map { case ((v, valiases, conjuncts), idx) =>
          // a predicated view must appear exactly once in FROM — with two
          // aliases the per-alias filters would wrongly share one vbase
          if (tables.count(_.name.equalsIgnoreCase(v.viewName)) > 1)
            throw new GraftException(
              s"WHERE measure predicates on self-joined view ${v.viewName} are not supported")
          val combined = conjuncts.mkString(" AND ")
          val (rframes, spans) = buildRowFrames(u, baseCteFor(v), v, valiases, allAliases,
            predicateCalls(combined), tag = s"_v$idx")
          ViewPredicate(v, valiases, s"__vbase${u}_v$idx", rframes,
            renderWithReplacements(combined, spans, tokenToBase(allAliases)))
        }.toList
        (if (plain.isEmpty) None else Some(plain.mkString(" AND ")), preds)
      }
    val vbaseByView: Map[String, String] =
      viewPredicates.map(p => p.view.viewName.toLowerCase -> p.vbase).toMap
    // for warning/CURRENT analysis of the WHERE text, blank the call spans
    // (the frame machinery owns them)
    val outerWhereAnalysis: Option[String] =
      if (rowWhere.isEmpty) outerWhere
      else outerWhere.map { w =>
        val sb = new StringBuilder(w)
        for (c <- whereCalls; i <- c.start until math.min(c.end, sb.length)) sb.setCharAt(i, ' ')
        sb.toString
      }

    def visibleFilterFor(v: MeasureView, valiases: Set[String]): Option[String] =
      (if (singleFact) outerWhere else multiPlainWhere).flatMap { w =>
        // multi-fact reads the call-free conjuncts only — measure-predicate
        // conjuncts live in the per-view vbase, and AGGREGATE call text must
        // never reach substToBase
        if (singleFact) Some(substToBase(w, v, allAliases))
        else ownedConjuncts(w, v, valiases).map(c => substToBase(c, v, allAliases))
      }

    /** Returns the replacement expression text for a call. */
    def planFrame(pc: PlannedCall): String = {
      val v = pc.view
      val valiases = pc.viewAliases
      val ctx = pc.ctx
      val meas = v.measure(pc.call.measureName)
        .getOrElse(throw new GraftException(s"Unknown measure ${pc.call.measureRaw} in view ${v.viewName}"))

      val aggExpr = meas.kind match {
        case MeasureKind.Derived => substituteDerived(meas.expression, v)
        case _ => meas.expression
      }
      val isWindow = meas.kind == MeasureKind.Window

      // correlation dims
      val correlate: List[DimSpec] =
        if (ctx.grand || ctx.dropAllCorrelation) Nil
        else {
          val kept = dims.filterNot(d => ctx.removedDims.exists(r =>
            ContextFold.dimMatches(r, d.queryExpr) || ContextFold.dimMatches(r, d.outName)))
          if (singleFact) kept
          else kept.filter(d => exprOwnedBy(d.queryExpr, v, valiases))
        }

      // SET conditions
      val setConds: List[(String, String)] = ctx.sets.map { case (dimSpec, rawExpr) =>
        val resolved = ContextFold.resolveCurrent(rawExpr, dims.map(_.queryExpr), outerWhereAnalysis)
        val innerExpr = substToBase(dimSpec, v, allAliases)
        val outerValue = mapTokens(resolved, { tok =>
          val stripped = Scan.stripQual(tok, allAliases)
          dims.find(d => d.outName.equalsIgnoreCase(stripped) ||
              (SqlClauses.plainColumnName(d.queryExpr).exists(_.equalsIgnoreCase(Scan.lastPart(stripped)))))
            .map(d => s"$outerName.${d.outName}")
        })
        (innerExpr, outerValue)
      }

      // with a measure-predicate WHERE, the visible context reads the
      // filtered base CTE. Single-fact: __vbase carries the whole WHERE, so
      // no extra filter. Multi-fact: the view's vbase carries only the
      // measure conjuncts, so the plain owned conjuncts still apply on top.
      val vbaseForV = vbaseByView.get(v.viewName.toLowerCase)
      val visibleOnVbase = (rowWhere.isDefined || vbaseForV.isDefined) &&
        ctx.filter == CtxFilter.VisibleFilter
      val filterSql: Option[String] = ctx.filter match {
        case CtxFilter.NoFilter => None
        case CtxFilter.VisibleFilter =>
          if (rowWhere.isDefined) None else visibleFilterFor(v, valiases)
        case CtxFilter.CondFilter(c) => Some(substToBase(c, v, allAliases))
      }

      // Warning: AT (ALL ...) silently drops the outer WHERE's filter on any
      // dimension that is neither correlated nor re-pinned by a SET.
      // (Reference: warning_for_at_all_ungrouped_where_with_qualifiers,
      // measures.rs:6984-7107.)
      val hasAllModifier = ctx.grand || ctx.removedDims.nonEmpty
      if (hasAllModifier && ctx.filter != CtxFilter.VisibleFilter && outerWhereAnalysis.isDefined) {
        // Per AND-conjunct: does the filtered expression survive into the AT
        // context — as a correlation key, a SET pin, or re-filtered inside an
        // AT (WHERE ...)? Compare at base-column level so view aliases and
        // expression dims line up.
        val atWherePins: Seq[String] = ctx.filter match {
          case CtxFilter.CondFilter(c) =>
            splitTopAnd(c, Scan.buildMask(c)).map { cj =>
              val lhs = cj.split("(?<![<>!=])=(?!=)|<|>|!=|\\bIN\\b|\\bIS\\b|\\bBETWEEN\\b|\\bLIKE\\b", 2)(0)
              Scan.norm(substToBase(lhs.trim, v, allAliases))
            }
          case _ => Nil
        }
        val coveredKeys: Set[String] =
          (correlate.map(d => Scan.norm(substToBase(d.queryExpr, v, allAliases))) ++
           ctx.sets.map { case (sd, _) => Scan.norm(substToBase(sd, v, allAliases)) } ++
           atWherePins).toSet
        val w = outerWhereAnalysis.get
        val conjuncts = splitTopAnd(w, Scan.buildMask(w))
        val dropped = conjuncts.flatMap { c =>
          val cm = Scan.buildMask(c)
          val ownsDim = Scan.identifiers(c, cm, 0, c.length).exists { case (tok, ts, e) =>
            val isCall = Scan.isCallAt(c, e)
            // `DATE '2023-01-01'` — a type keyword directly followed by a
            // string literal is a typed literal, not a column named `date`;
            // `CAST(x AS DATE)` — a token right after AS is a cast target
            // type (reference pin-detection breadth, measures.rs:6984-7107)
            val isTypedLiteral = c.startsWith("'", Scan.skipWs(c, e))
            val isCastType = Scan.followsAs(c, ts)
            // a qualifier naming another FROM table means the filter is on
            // that table's column, not this measure's dimension
            val dot = tok.indexOf('.')
            val foreignQualified = dot > 0 && !valiases.contains(tok.substring(0, dot).toLowerCase)
            val stripped = Scan.stripQual(tok, allAliases)
            !isCall && !isTypedLiteral && !isCastType && !foreignQualified && !stripped.contains('.') &&
              (v.dimensionExprs.contains(stripped.toLowerCase) ||
               baseColumns(v.viewName.toLowerCase).contains(stripped.toLowerCase))
          }
          if (!ownsDim) None
          else {
            val opIdx = {
              var idx = -1
              var i = 0
              var depth = 0
              while (idx < 0 && i < c.length) {
                if (!cm(i)) {
                  val ch = c.charAt(i)
                  if (ch == '(') depth += 1
                  else if (ch == ')') depth -= 1
                  else if (depth == 0 && (ch == '=' || ch == '<' || ch == '>' || ch == '!')) idx = i
                  else if (depth == 0 && (i == 0 || !Scan.isIdentChar(c.charAt(i - 1))) &&
                           (c.regionMatches(true, i, "IN", 0, 2) || c.regionMatches(true, i, "IS", 0, 2) ||
                            c.regionMatches(true, i, "BETWEEN", 0, 7) || c.regionMatches(true, i, "LIKE", 0, 4)) &&
                           !Scan.isIdentChar(c.charAt(math.min(i + (if (c.regionMatches(true, i, "BETWEEN", 0, 7)) 7 else if (c.regionMatches(true, i, "LIKE", 0, 4)) 4 else 2), c.length - 1))))
                    idx = i
                }
                i += 1
              }
              idx
            }
            val lhs = (if (opIdx > 0) c.substring(0, opIdx) else c).trim
            val lhsNorm = Scan.norm(substToBase(lhs, v, allAliases))
            if (coveredKeys.contains(lhsNorm)) None else Some(lhs)
          }
        }
        if (dropped.nonEmpty)
          warningSink(s"AT (ALL) over measure ${meas.name}: outer WHERE filter on ungrouped " +
            s"dimension(s) ${dropped.mkString(", ")} does not apply inside the AT context; " +
            "add AT (WHERE ...), AT (SET ...) or VISIBLE to re-pin it")
      }

      // inline fast path: visible context over all dims, plain grouping
      val visibleAllDims = !ctx.grand && !ctx.dropAllCorrelation && ctx.removedDims.isEmpty &&
        ctx.sets.isEmpty &&
        (ctx.filter == CtxFilter.VisibleFilter ||
         (ctx.filter == CtxFilter.NoFilter && outerWhere.isEmpty))
      if (singleFact && groupWrapper.isEmpty && !isWindow && visibleAllDims && !clauses.distinct) {
        val sig = "inline:" + Scan.norm(aggExpr)
        val (col, _) = inlineAggs.getOrElseUpdate(sig, { inlineCounter += 1; (s"__a$inlineCounter", aggExpr) })
        return s"$outerName.$col"
      }

      // frame — merged per (view, base CTE, keys, SETs, filter, window?)
      // context so N measures in the same context share one shuffle
      val baseCte =
        if (!visibleOnVbase) baseCteFor(v)
        else if (rowWhere.isDefined) vbaseName
        else vbaseForV.get
      val corrKeys = correlate.map(d => substToBase(d.queryExpr, v, allAliases))
      val innerKeys = corrKeys ++ setConds.map(_._1)
      val key = FrameKey(v.viewName.toLowerCase, baseCte, innerKeys.map(Scan.norm),
        setConds.map(s => Scan.norm(s._2)), filterSql.map(Scan.norm), isWindow)
      val frame = frames.getOrElseUpdate(key, {
        frameCounter += 1
        val fname = s"__f${u}_$frameCounter"
        val joinConds =
          corrKeys.indices.map(i => s"$outerName.${correlate(i).outName} <=> $fname.__k$i") ++
          setConds.zipWithIndex.map { case ((_, outerV), j) => s"$fname.__k${corrKeys.length + j} <=> ($outerV)" }
        val joinOn = if (innerKeys.isEmpty) None else Some(joinConds.mkString(" AND "))
        new MergedFrame(fname, v, baseCte, innerKeys, setConds.nonEmpty, filterSql, joinOn, isWindow)
      })
      val col = frame.valueCol(aggExpr, if (isWindow) Some(meas.name) else None)
      s"${frame.cte}.$col"
    }

    // plain aggregate items are hoisted into __outer under a stable name
    val plainAggNames: Map[Int, String] = items.zipWithIndex.collect {
      case (it, idx) if it.kind == "plainagg" =>
        idx -> it.alias.getOrElse(uniqueName("__g"))
    }.toMap
    val plainAggCols: List[(String, String)] = items.zipWithIndex.collect {
      case (it, idx) if it.kind == "plainagg" =>
        val expr = if (singleFact) substToBase(it.exprNoAlias, primaryView, primaryAliases) else it.exprNoAlias
        (plainAggNames(idx), expr)
    }

    // plan all calls (select items, having, order by)
    val itemRendered: List[String] = items.zipWithIndex.map { case (it, idx) =>
      it.kind match {
        case "dim" =>
          val d = dims.find(d => Scan.norm(d.queryExpr) == Scan.norm(it.exprNoAlias) ||
            it.alias.exists(_.equalsIgnoreCase(d.outName)))
          d match {
            case Some(ds) => s"$outerName.${ds.outName} AS ${ds.outName}"
            case None => // selected but not grouped (legal under GROUP BY with exprs)
              mapTokens(replaceDimSpans(it.text), dimTokenMap)
          }
        case "literal" => it.text
        case "plainagg" =>
          val name = plainAggNames(idx)
          s"$outerName.$name AS $name"
        case "measure" =>
          val spans = it.calls.map(c => (c.start, c.end, planFrame(planCall(c))))
          renderWithReplacements(it.text, spans, dimTokenMap, replaceDimSpans)
      }
    }

    // having / qualify / order by
    /** Post-aggregation tails: ANY_VALUE(x) over a grouped output is x
      * itself (every group key is single-valued), and Spark rejects
      * aggregate calls in the post-join ORDER BY — strip the wrapper when
      * the argument holds no measure call (measures.test:1215).
      */
    def stripAnyValue(text: String): String = {
      val m = Scan.buildMask(text)
      val re = "(?i)\\bany_value\\s*\\(".r
      for (mm <- re.findAllMatchIn(text) if !m(mm.start)) {
        val open = text.indexOf('(', mm.start)
        val close = Scan.matchParen(text, m, open)
        if (close > 0) {
          val inner = text.substring(open + 1, close)
          if (AtParser.extractCalls(inner, Scan.buildMask(inner), 0, inner.length).isEmpty)
            return stripAnyValue(text.substring(0, mm.start) + "(" + inner + ")" + text.substring(close + 1))
        }
      }
      text
    }
    def rewriteTail(text0: String): String = {
      val text = stripAnyValue(text0)
      val m = Scan.buildMask(text)
      val calls = AtParser.extractCalls(text, m, 0, text.length)
      val spans = calls.map(c => (c.start, c.end, planFrame(planCall(c))))
      renderWithReplacements(text, spans, dimTokenMap, replaceDimSpans)
    }
    // HAVING without measure calls (plain aggregate condition) stays inside
    // __outer — for multi-fact queries the join FROM is __outer's input, so
    // the raw text applies directly; with calls it becomes a post-join filter
    val (outerHaving, havingRendered) = clauses.having match {
      case Some(h) =>
        val hm = Scan.buildMask(h)
        if (AtParser.extractCalls(h, hm, 0, h.length).isEmpty)
          (Some(if (singleFact) substToBase(h, primaryView, primaryAliases) else h), None)
        else (None, Some(rewriteTail(h)))
      case None => (None, None)
    }
    val orderRendered = clauses.orderBy.map(rewriteTail)

    // ---- assemble ------------------------------------------------------
    val sb = new StringBuilder
    sb.append("WITH ")
    val cteList = scala.collection.mutable.ListBuffer[String]()

    if (singleFact) baseCteFor(primaryView) // ensure base CTE exists when inline-only
    for ((name, sql) <- baseCtes) cteList += s"$name AS ($sql)"
    // measure-predicate WHERE: row frames + the filtered base come right
    // after the base CTEs they read
    def filteredBase(vbase: String, v: MeasureView, rframes: List[RowFrame], where: String): Unit = {
      for (f <- rframes) cteList += s"${f.cte} AS (${f.sql})"
      val baseName = baseCteFor(v)
      cteList += s"$vbase AS (SELECT $baseName.* FROM $baseName${leftJoins(rframes)} WHERE $where)"
    }
    rowWhere.foreach { case (rframes, rendered) => filteredBase(vbaseName, primaryView, rframes, rendered) }
    for (p <- viewPredicates) filteredBase(p.vbase, p.view, p.rframes, p.rendered)

    // the unfiltered, SET-free aggregate frames over v's own base — the
    // visible-context frames the derivations below read instead of a rescan
    def plainFrames(v: MeasureView): List[MergedFrame] = {
      val base = baseCteFor(v)
      frames.values.filter(f => f.view.viewName.equalsIgnoreCase(v.viewName) &&
        f.baseCte == base && !f.isWindow && f.whereSql.isEmpty && !f.hasSets).toList
    }

    // Single-fact decomposable AT-frame derivation: an AT (ALL)/(ALL dim)
    // frame over the unfiltered base whose aggregates are decomposable
    // (SUM/COUNT/MIN/MAX) re-aggregates what the visible inline aggregate
    // already computed per dim combination — so derive it from __outer
    // (`SELECT keys, SUM(__aN) FROM __outer GROUP BY keys`) instead of
    // rescanning the fact table. Cuts one full base scan per AT context;
    // COUNT re-aggregates as SUM of group counts. Float SUMs change
    // summation order exactly as Spark's own partial aggregation does.
    // The inline aggregate is created here if no visible call asked for
    // it (one more column on the existing outer scan is free).
    val derivedFrameSql: Map[String, String] =
      if (!singleFact || rowWhere.isDefined || viewPredicates.nonEmpty ||
          outerWhere.nonEmpty || groupWrapper.nonEmpty || clauses.having.nonEmpty ||
          clauses.distinct || dims.isEmpty) Map.empty
      else {
        val dimByNorm: Map[String, String] = dims.map(d =>
          Scan.norm(substToBase(d.queryExpr, primaryView, primaryAliases)) -> d.outName).toMap
        val headRe = "(?is)^\\s*(SUM|COUNT|MIN|MAX)\\s*\\((?!\\s*DISTINCT\\b)".r
        // Re-aggregation is only sound when the value expression is exactly
        // ONE aggregate call spanning the whole string: a composite like
        // SUM(a)/SUM(b) or MAX(x)-MIN(x) is Decomposable per classify() but
        // sum-of-ratios != ratio-of-sums, so it must recompute from base.
        def wholeSingleAgg(expr: String): Boolean = {
          val t = expr.trim
          headRe.findFirstMatchIn(t) match {
            case Some(m) =>
              val close = Scan.matchParen(t, Scan.buildMask(t), m.end - 1)
              close == t.length - 1
            case None => false
          }
        }
        plainFrames(primaryView).flatMap { f =>
          val eligible = f.innerKeys.forall(k => dimByNorm.contains(Scan.norm(k))) &&
            f.values.forall { case (_, (expr, guard)) =>
              guard.isEmpty && wholeSingleAgg(expr) }
          if (!eligible) None
          else {
            val keyCols = f.innerKeys.zipWithIndex.map { case (k, i) =>
              s"${dimByNorm(Scan.norm(k))} AS __k$i" }
            val valCols = f.values.map { case (col, (expr, _)) =>
              val head = headRe.findFirstIn(expr).get.trim.takeWhile(_.isLetter).toUpperCase
              val reagg = if (head == "COUNT") "SUM" else head
              val sig2 = "inline:" + Scan.norm(expr)
              val (inlineCol, _) = inlineAggs.getOrElseUpdate(sig2,
                { inlineCounter += 1; (s"__a$inlineCounter", expr) })
              s"$reagg($inlineCol) AS $col"
            }
            val groupSql =
              if (f.innerKeys.isEmpty) ""
              else " GROUP BY " + f.innerKeys.indices.map(i =>
                dimByNorm(Scan.norm(f.innerKeys(i)))).mkString(", ")
            Some(f.cte ->
              s"SELECT ${(keyCols ++ valCols).mkString(", ")} FROM $outerName$groupSql")
          }
        }.toMap
      }

    // Rollup/cube/grouping-sets skeleton derivation (r14): under a group
    // wrapper the inline fast path is off, so __outer is a pure GROUP-KEY
    // SKELETON — yet it re-scans the fact table just to enumerate the key
    // combinations that the all-dims visible aggregate frame (present
    // whenever a visible AGGREGATE call exists) already derives from the
    // same base. ROLLUP/CUBE/GROUPING SETS expansions depend only on the
    // DISTINCT key combinations, which a GROUP BY over all dims preserves
    // exactly (including data-null key groups), so deriving the skeleton
    // FROM that frame is row-identical and removes one full base scan per
    // wrapped query. Eligibility mirrors the frame's provenance: single
    // fact, no row/view predicates, no outer WHERE/HAVING, no plain
    // aggregates (those must aggregate base rows inside __outer), and an
    // unfiltered non-window frame keyed on exactly the dims.
    val skeletonFromFrame: Option[(MergedFrame, List[Int])] =
      if (singleFact && groupWrapper.nonEmpty && plainAggCols.isEmpty &&
          inlineAggs.isEmpty && rowWhere.isEmpty && viewPredicates.isEmpty &&
          outerWhere.isEmpty && outerHaving.isEmpty && !clauses.distinct &&
          dims.nonEmpty &&
          (groupWrapper != "GROUPING SETS" ||
            dims.forall(d => SqlClauses.plainColumnName(d.queryExpr).isDefined))) {
        val dimNorms = dims.map(d =>
          Scan.norm(substToBase(d.queryExpr, primaryView, primaryAliases)))
        plainFrames(primaryView).flatMap { f =>
          if (f.innerKeys.size != dims.size) None
          else {
            val keyNorms = f.innerKeys.map(Scan.norm)
            val idx = dimNorms.map(keyNorms.indexOf)
            if (idx.contains(-1) || idx.distinct.size != idx.size) None
            else Some((f, idx))
          }
        }.headOption
      } else None

    // __outer
    val outerProjections = scala.collection.mutable.ListBuffer[String]()
    val outerGroupKeys = scala.collection.mutable.ListBuffer[String]()
    if (singleFact) {
      skeletonFromFrame match {
        case Some((f, idx)) =>
          for ((d, j) <- dims.zipWithIndex) {
            outerProjections += s"__k${idx(j)} AS ${d.outName}"
            outerGroupKeys += s"__k${idx(j)}"
          }
          // the frame's measure values ride the SAME grouped select instead
          // of a LEFT JOIN back: at the finest grouping set every group is
          // exactly one frame row (frame keys are unique), so MIN picks it;
          // every supergroup row is NULL — the GROUPING semantics the
          // oracle replays (CASE WHEN GROUPING(...) THEN NULL). The join
          // this replaces attached values by null-safe key equality, which
          // agreed everywhere except data-null key groups colliding with
          // expansion nulls — where the join contradicted the oracle.
          for ((vcol, _) <- f.values)
            outerProjections +=
              s"CASE WHEN grouping_id() <> 0 THEN NULL ELSE MIN($vcol) END AS __s$vcol"
        case None =>
          for (d <- dims) {
            val baseExpr = substToBase(d.queryExpr, primaryView, primaryAliases)
            outerProjections += s"$baseExpr AS ${d.outName}"
            outerGroupKeys += baseExpr
          }
      }
    } else {
      for (d <- dims) {
        outerProjections += s"${d.queryExpr} AS ${d.outName}"
        outerGroupKeys += d.queryExpr
      }
    }
    for ((name, expr) <- plainAggCols) outerProjections += s"$expr AS $name"
    for ((_, (col, aggExpr)) <- inlineAggs) outerProjections += s"$aggExpr AS $col"
    // Multi-fact dedup pushdown: the outer frame only needs DISTINCT dim
    // combinations, so each measure-view side of an inner join can be
    // reduced to a DISTINCT projection of its referenced columns before the
    // join. Without this, joining two fact views on a low-cardinality dim
    // (e.g. year) explodes to |A|x|B| rows per key before the GROUP BY —
    // measured 269s vs <1s at sf0.1. Skipped when join rows are observable
    // (plain aggregates, HAVING, DISTINCT, or outer joins).
    val dedupJoinFrom: Option[String] =
      if (singleFact) None
      else {
        val safe = plainAggCols.isEmpty && clauses.having.isEmpty && !clauses.distinct &&
          "(?i)\\b(LEFT|RIGHT|FULL|CROSS)\\b".r.findFirstIn(fromText).isEmpty
        if (!safe) {
          // WHERE measure predicates are enforced through the FROM-side
          // replacement below — without it the filter would silently drop
          if (viewPredicates.nonEmpty)
            throw new GraftException(
              "WHERE measure predicates in a multi-fact query require an inner join " +
                "without plain aggregates, HAVING or DISTINCT (join rows must not be observable)")
          None
        }
        else {
          // (item, name as written, view) per measure-view FROM item
          val refs = SqlClauses.fromItems(fromText)
            .flatMap(r => r.name.flatMap(n => catalog.get(n).map(v => (r, n, v))))
          if (refs.isEmpty) None
          else {
            val contexts = (dims.map(_.queryExpr) ++ multiPlainWhere.toList :+ fromText).mkString(" , ")
            val toks = Scan.columnRefs(contexts, Scan.buildMask(contexts), 0, contexts.length)
            def neededCols(r: FromItem, name: String, view: MeasureView): Seq[String] = {
              val outputs = view.dimensionOrder.map(_.toLowerCase).toSet
              toks.flatMap { case (t, _, _) =>
                val dot = t.indexOf('.')
                if (dot > 0) {
                  val q = t.substring(0, dot).toLowerCase
                  if (q == r.alias.toLowerCase || q == name.toLowerCase) Some(Scan.lastPart(t).toLowerCase)
                  else None
                } else if (outputs.contains(t.toLowerCase)) Some(t.toLowerCase)
                else None
              }.distinct.filterNot(view.measureNamesLower.contains)
            }
            val repls = refs.flatMap { case (r, name, v) =>
              {
                val cols = neededCols(r, name, v)
                // guided error instead of an UNRESOLVED_COLUMN plan dump:
                // a view exposes its dimensions and measures only — an
                // alias-qualified reference to a non-exposed base column
                // (e.g. WHERE a.va > 50) cannot resolve against the view,
                // and the dedup projection below would leak generated SQL
                // into the analysis error (round-8 fuzzer finding)
                val exposed = v.dimensionOrder.map(_.toLowerCase).toSet
                // a star view (SELECT *, ... MEASURE) exposes every base
                // column — nothing to validate there
                val unknown =
                  if (exposed.exists(_.contains("*"))) Nil
                  else cols.filterNot(exposed.contains)
                if (unknown.nonEmpty)
                  throw new GraftException(
                    s"column(s) ${unknown.mkString(", ")} referenced via ${r.alias} are not exposed by view " +
                      s"${v.viewName} (its dimensions: ${v.dimensionOrder.mkString(", ")}); base columns of a " +
                      "measure view are only reachable inside AT (WHERE ...) — or add them to the view's SELECT")
                vbaseByView.get(v.viewName.toLowerCase) match {
                  case Some(vbase) =>
                    // predicated view: the join side is the DISTINCT set of
                    // dim combinations whose base rows survive the measure
                    // predicate — projected at base level from the vbase
                    val keep = if (cols.nonEmpty) cols else v.dimensionOrder.map(_.toLowerCase)
                    val proj = keep.map(c =>
                      v.dimensionExprs.get(c).map(e => s"$e AS $c").getOrElse(c))
                    val sub = s"(SELECT DISTINCT ${proj.mkString(", ")} FROM $vbase)"
                    Some((r.start, r.start + name.length,
                      if (r.hasAlias) sub else s"$sub ${r.alias}"))
                  case None =>
                    if (cols.isEmpty) None
                    else {
                      // Source the DISTINCT dim set from an already-planned
                      // unfiltered visible-context frame when one groups by
                      // (a superset of) exactly these dims: the frame's
                      // GROUP BY keys ARE the distinct combinations, so the
                      // outer reads `SELECT DISTINCT __ki FROM __f` and
                      // Spark's ReuseExchange computes the fact scan +
                      // partial aggregate ONCE for both the outer and the
                      // frame join — halving fact scans in the common
                      // multi-fact shape (measured 0.67 -> 0.4 s at sf0.1).
                      val targets = cols.map(c => Scan.norm(substToBase(c, v, allAliases)))
                      val frameSub = plainFrames(v).collectFirst { case f
                        if targets.forall(t => f.innerKeys.exists(k => Scan.norm(k) == t)) =>
                        val proj = cols.zip(targets).map { case (c, t) =>
                          s"__k${f.innerKeys.indexWhere(k => Scan.norm(k) == t)} AS $c"
                        }
                        s"(SELECT DISTINCT ${proj.mkString(", ")} FROM ${f.cte})"
                      }
                      val sub = frameSub.getOrElse(
                        s"(SELECT DISTINCT ${cols.mkString(", ")} FROM $name)")
                      Some((r.start, r.start + name.length,
                        if (r.hasAlias) sub else s"$sub ${r.alias}"))
                    }
                }
              }
            }
            if (repls.isEmpty) None
            else {
              val sb = new StringBuilder(fromText)
              for ((s, e, rep) <- repls.sortBy(-_._1)) sb.replace(s, e, rep)
              Some(sb.toString)
            }
          }
        }
      }

    // Direct frame join (Yan/Larson join-of-aggregates): in the common
    // multi-fact shape — inner equi-join of measure views on dim columns,
    // every call in visible context, no WHERE/HAVING/DISTINCT/plain aggs —
    // the __outer-of-DISTINCTs + per-frame LEFT JOINs is equivalent to
    // joining the frames DIRECTLY on the mapped join condition: each
    // frame's GROUP BY keys are unique per row, so the frame join produces
    // exactly the outer's dim combinations with the measure values already
    // attached. Spark inlines WITH CTEs (the outer's DISTINCT sides were
    // separate fact scans after column pruning), so this halves fact-table
    // scans and removes two join stages (measured: m_multifact 0.66 ->
    // ~0.4 s at sf0.1). Returns (rewritten FROM text, outer-ref -> frame
    // key replacements for the already-rendered select/order text).
    val directJoin: Option[(String, Map[String, String])] =
      if (singleFact || rowWhere.isDefined || viewPredicates.nonEmpty ||
          plainAggCols.nonEmpty || inlineAggs.nonEmpty || groupWrapper.nonEmpty ||
          clauses.having.nonEmpty || clauses.distinct || outerWhere.nonEmpty ||
          "(?i)\\b(LEFT|RIGHT|FULL|CROSS)\\b".r.findFirstIn(fromText).isDefined)
        None
      else {
        // derived tables (no name) have no frame: bail
        val refs = SqlClauses.fromItems(fromText)
        val viewsOf = refs.map(r => r -> r.name.flatMap(catalog.get))
        if (refs.size < 2 || viewsOf.exists(_._2.isEmpty) ||
            refs.map(_.name.map(_.toLowerCase)).distinct.size != refs.size) None
        else {
          // each view needs exactly one unfiltered visible-context frame
          // (keyed on all its owned dims, no SETs/filters/window); any
          // other frame shape means an AT context is present — bail
          case class RF(ref: FromItem, view: MeasureView, frame: MergedFrame, aliases: Set[String])
          val rfs = viewsOf.flatMap { case (r, vOpt) =>
            val v = vOpt.get
            plainFrames(v).find(_.innerKeys.nonEmpty).map(f =>
              RF(r, v, f, Set(r.alias.toLowerCase) ++ r.name.map(_.toLowerCase)))
          }
          if (rfs.size != refs.size || frames.size != refs.size) None
          else {
            def keyRef(rf: RF, tok: String): Option[String] = {
              val n = Scan.norm(substToBase(tok, rf.view, rf.aliases))
              val i = rf.frame.innerKeys.indexWhere(k => Scan.norm(k) == n)
              if (i >= 0) Some(s"${rf.frame.cte}.__k$i") else None
            }
            // every grouped dim must resolve to a frame key of its owner
            val dimEntries = dims.map { d =>
              rfs.iterator
                .filter(rf => exprOwnedBy(d.queryExpr, rf.view, rf.aliases))
                .flatMap(rf => keyRef(rf, d.queryExpr)).nextOption()
                .map(r => s"$outerName.${d.outName}" -> r)
            }
            if (dimEntries.exists(_.isEmpty)) None
            else {
              // rewrite the FROM: view refs become frame CTEs (aliases
              // dropped), and every column token in the join conditions
              // must map to a frame key — anything unmappable bails to
              // the general path
              val sbf = new StringBuilder(fromText)
              for (rf <- rfs.sortBy(-_.ref.start))
                sbf.replace(rf.ref.start, rf.ref.end, rf.frame.cte)
              var ok = true
              val fromWords = Set("join", "inner", "on", "using")
              val mapped = mapTokens(sbf.toString, { tok =>
                if (rfs.exists(rf => tok.equalsIgnoreCase(rf.frame.cte))) None
                else {
                  val dot = tok.indexOf('.')
                  val owner =
                    if (dot > 0) rfs.find(_.aliases.contains(tok.substring(0, dot).toLowerCase))
                    else rfs.find(rf => tokenOwnedBy(tok, rf.view, rf.aliases))
                  owner.flatMap(keyRef(_, tok)) match {
                    case s @ Some(_) => s
                    case None =>
                      if (!isSqlKeyword(tok) && !fromWords(tok.toLowerCase)) ok = false
                      None
                  }
                }
              })
              if (ok) Some((mapped, dimEntries.flatten.toMap)) else None
            }
          }
        }
      }

    val outerFrom =
      if (skeletonFromFrame.isDefined) skeletonFromFrame.get._1.cte
      else if (rowWhere.isDefined) vbaseName // the measure-predicate WHERE lives inside __vbase
      else if (singleFact) baseCteFor(primaryView)
      else dedupJoinFrom.getOrElse(fromText)
    for (p <- viewPredicates if !outerFrom.contains(p.vbase))
      throw new GraftException(
        s"WHERE measure predicate on view ${p.view.viewName} could not be attached to the join FROM")
    val outerWhereSql =
      if (rowWhere.isDefined) ""
      else (if (singleFact) outerWhere.map(w => substToBase(w, primaryView, primaryAliases))
            else multiPlainWhere).map(w => s" WHERE $w").getOrElse("")
    val outerGroupSql =
      if (dims.nonEmpty) {
        val keys = outerGroupKeys.mkString(", ")
        val g =
          if (groupWrapper == "GROUPING SETS") {
            val inner = skeletonFromFrame match {
              case Some((_, idx)) =>
                // skeleton reads the frame: set members are plain dim
                // columns (eligibility requires it) — map each to its
                // frame key column
                val bySrc: Map[String, String] = dims.zipWithIndex.flatMap {
                  case (d, j) =>
                    val key = s"__k${idx(j)}"
                    SqlClauses.plainColumnName(d.queryExpr)
                      .map(_.toLowerCase -> key).toList :+
                      (d.outName.toLowerCase -> key)
                }.toMap
                mapTokens(groupingSetsRaw, tok =>
                  bySrc.get(Scan.stripQual(tok, allAliases).toLowerCase))
              case None =>
                if (singleFact) substToBase(groupingSetsRaw, primaryView, primaryAliases)
                else groupingSetsRaw
            }
            s" GROUP BY GROUPING SETS($inner)"
          } else if (groupWrapper.nonEmpty) s" GROUP BY $groupWrapper($keys)"
          else s" GROUP BY $keys"
        g + outerHaving.map(h => s" HAVING $h").getOrElse("")
      } else outerHaving.map(h => s" HAVING $h").getOrElse("")
    val outerSelect =
      if (outerProjections.nonEmpty) outerProjections.mkString(", ")
      else "1 AS __one"
    val outerBody =
      if (outerProjections.isEmpty && dims.isEmpty && plainAggCols.isEmpty && inlineAggs.isEmpty)
        s"SELECT 1 AS __one" // frames carry all values; single anchor row
      else s"SELECT $outerSelect FROM $outerFrom$outerWhereSql$outerGroupSql"
    // base-scan frames BEFORE __outer (the multi-fact dedup pushdown may
    // source the outer's DISTINCT dim sets from them); outer-derived
    // frames AFTER it — a WITH item can only reference earlier items
    for ((_, f) <- frames if !derivedFrameSql.contains(f.cte))
      cteList += s"${f.cte} AS (${f.sql})"
    if (directJoin.isEmpty) cteList += s"$outerName AS ($outerBody)"
    for ((_, f) <- frames if derivedFrameSql.contains(f.cte))
      cteList += s"${f.cte} AS (${derivedFrameSql(f.cte)})"
    sb.append(cteList.mkString(", "))

    // ORDER-BY-position subqueries: Spark's analyzer rejects subqueries in
    // SORT BY. The inverse of the reference's own inlining
    // (yardstick_inline_order_by_subquery_aliases, parser_ffi.rs:826, called
    // at measures.rs:7578-7584): hoist each subquery-bearing sort expression
    // into a hidden projected column (where Spark DOES allow subqueries and
    // lateral alias refs), sort the wrapped query by the hidden alias, and
    // project it away. Only applies when every select item has a derivable
    // output name; otherwise the plain path (and Spark's error) stands.
    val ordParts: List[String] = orderRendered.toList.flatMap { o =>
      Scan.splitTopLevel(o, Scan.buildMask(o), ',', 0, o.length)
        .map { case (s0, e0) => o.substring(s0, e0).trim }.filter(_.nonEmpty)
    }
    def partHasSubquery(t: String): Boolean = {
      val m = Scan.buildMask(t)
      "(?i)\\(\\s*select\\b".r.findAllMatchIn(t).exists(mm => !m(mm.start))
    }
    val outNamesOpt: Option[List[String]] =
      if (!ordParts.exists(partHasSubquery) || clauses.distinct) None
      else {
        val ns = items.zipWithIndex.map { case (it, idx) =>
          it.kind match {
            case "dim" =>
              dims.find(d => Scan.norm(d.queryExpr) == Scan.norm(it.exprNoAlias) ||
                  it.alias.exists(_.equalsIgnoreCase(d.outName))).map(_.outName)
                .orElse(it.alias).orElse(SqlClauses.plainColumnName(it.exprNoAlias))
            case "plainagg" => Some(plainAggNames(idx))
            case _ => it.alias
          }
        }
        if (ns.forall(_.isDefined)) Some(ns.map(_.get)) else None
      }

    val frameJoins = leftJoins(frames.values.filterNot(f => skeletonFromFrame.exists(_._1 eq f)))
    val inner = new StringBuilder
    inner.append("SELECT ")
    if (clauses.distinct) inner.append("DISTINCT ")
    inner.append(itemRendered.mkString(", "))
    outNamesOpt match {
      case Some(names) =>
        // hoist EVERY sort part (not just the subquery-bearing ones): the
        // non-subquery parts were rendered against __outer/frame columns,
        // which are out of scope once the query is wrapped
        var ordN = -1
        val dirRe = "(?is)^(.*?)((?:\\s+ASC|\\s+DESC)?(?:\\s+NULLS\\s+(?:FIRST|LAST))?)\\s*$".r
        val newParts = ordParts.map { p =>
          val (expr, dir) = p match {
            case dirRe(e0, d0) => (e0, d0)
            case _ => (p, "")
          }
          ordN += 1
          inner.append(s", ($expr) AS __ord$ordN")
          s"__ord$ordN$dir"
        }
        directJoin match {
          case Some((fromSql, _)) => inner.append(s" FROM $fromSql")
          case None => inner.append(s" FROM $outerName$frameJoins")
        }
        havingRendered.foreach(h => inner.append(s" WHERE $h"))
        sb.append(s" SELECT ${names.mkString(", ")} FROM ($inner) __sort$u")
        sb.append(s" ORDER BY ${newParts.mkString(", ")}")
        clauses.limitText.foreach(l => sb.append(s" $l"))
      case None =>
        sb.append(" ")
        sb.append(inner)
        directJoin match {
          case Some((fromSql, _)) => sb.append(s" FROM $fromSql")
          case None => sb.append(s" FROM $outerName$frameJoins")
        }
        havingRendered.foreach(h => sb.append(s" WHERE $h"))
        orderRendered.foreach(o => sb.append(s" ORDER BY $o"))
        clauses.limitText.foreach(l => sb.append(s" $l"))
    }
    directJoin match {
      case Some((_, repl)) =>
        // the select/order text was rendered against __outer columns;
        // point those refs at the frame keys instead
        Some(repl.foldLeft(sb.toString) { case (t, (k, v)) =>
          t.replaceAll(java.util.regex.Pattern.quote(k) + "\\b",
            java.util.regex.Matcher.quoteReplacement(v))
        })
      case None =>
        // skeleton derivation: the rendered text references the elided
        // frame's value columns — point them at the outer's grouped copies
        skeletonFromFrame match {
          case Some((f, _)) =>
            Some(f.values.keys.foldLeft(sb.toString) { (t, vcol) =>
              t.replaceAll(
                java.util.regex.Pattern.quote(s"${f.cte}.$vcol") + "\\b",
                java.util.regex.Matcher.quoteReplacement(s"$outerName.__s$vcol"))
            })
          case None => Some(sb.toString)
        }
    }
  }

  /** Paper Listing 12: an ungrouped query whose WHERE contains measure
    * calls — each base ROW is kept or dropped by comparing against measure
    * values evaluated in the call's context. Correlated `AT (WHERE inner =
    * alias.col)` conjuncts become join keys of a grouped frame; constant
    * conjuncts become the frame's filter.
    * (Reference: measures.test:3351-3360 via the m-AT rewrite into a
    * correlated scalar subquery.)
    */
  private case class RowFrame(cte: String, sql: String, joinOn: Option[String], valueRef: String)
    extends JoinedFrame

  /** Plan per-row measure frames for AGGREGATE calls appearing in a WHERE
    * clause: each call becomes a grouped frame keyed on its correlated
    * conjuncts, left-joined against the base relation row-by-row. Shared by
    * the ungrouped Listing-12 path and the grouped filtered-base path.
    * Returns (frames in plan order, call spans with replacement text).
    */
  private def buildRowFrames(u: Int, baseName: String, v: MeasureView,
                             valiases: Set[String], allAliases: Set[String],
                             calls: List[AggCall],
                             tag: String = ""): (List[RowFrame], List[(Int, Int, String)]) = {
    var fc = -1
    // merge key: (aggregate, correlated inner keys, residual filters), normalized
    val frames = scala.collection.mutable.LinkedHashMap[(String, List[String], List[String]), RowFrame]()

    def planRowCall(c: AggCall): String = {
      val meas = v.measure(c.measureName)
        .getOrElse(throw new GraftException(s"Unknown measure: ${c.measureRaw}"))
      val aggExpr = meas.kind match {
        case MeasureKind.Derived => substituteDerived(meas.expression, v)
        case _ => meas.expression
      }
      val ctx = ContextFold.fold(c.modifiers, c.paperDefault)
      // correlation keys + residual filter from the context
      val (pairs, filters): (List[(String, String)], List[String]) = ctx.filter match {
        case CtxFilter.CondFilter(cond) =>
          val conjuncts = splitTopAnd(cond, Scan.buildMask(cond))
          conjuncts.foldLeft((List.empty[(String, String)], List.empty[String])) {
            case ((ps, fs), cj) =>
              val cm = Scan.buildMask(cj)
              val eq = {
                var idx = -1
                var i = 0
                var depth = 0
                while (idx < 0 && i < cj.length) {
                  if (!cm(i)) {
                    val ch = cj.charAt(i)
                    if (ch == '(') depth += 1
                    else if (ch == ')') depth -= 1
                    else if (depth == 0 && ch == '=' &&
                             (i == 0 || "<>!=".indexOf(cj.charAt(i - 1)) < 0) &&
                             (i + 1 >= cj.length || cj.charAt(i + 1) != '=')) idx = i
                  }
                  i += 1
                }
                idx
              }
              if (eq < 0) (ps, fs :+ cj)
              else {
                val lhs = cj.substring(0, eq).trim
                val rhs = cj.substring(eq + 1).trim
                def outerRef(t: String): Option[String] = {
                  val dot = t.indexOf('.')
                  if (dot > 0 && valiases.contains(t.substring(0, dot).toLowerCase) &&
                      t.substring(dot + 1).forall(Scan.isIdentChar)) Some(t.substring(dot + 1))
                  else None
                }
                (outerRef(rhs), outerRef(lhs)) match {
                  case (Some(outCol), None) => (ps :+ ((substToBase(lhs, v, allAliases), outCol)), fs)
                  case (None, Some(outCol)) => (ps :+ ((substToBase(rhs, v, allAliases), outCol)), fs)
                  case _ => (ps, fs :+ substToBase(cj, v, allAliases))
                }
              }
          }
        case CtxFilter.NoFilter => (Nil, Nil)
        case CtxFilter.VisibleFilter =>
          throw new GraftException(
            "plain AGGREGATE / AT (VISIBLE) in a row-level WHERE is circular; use AT (WHERE ...) or AT (ALL)")
      }
      val key = (Scan.norm(aggExpr), pairs.map(p => Scan.norm(p._1)), filters.map(Scan.norm))
      val f = frames.getOrElseUpdate(key, {
        fc += 1
        val name = s"__rf$u${tag}_$fc"
        val whereSql = if (filters.isEmpty) "" else s" WHERE ${filters.mkString(" AND ")}"
        val sql =
          if (pairs.isEmpty) s"SELECT $aggExpr AS __v FROM $baseName$whereSql"
          else {
            val keyCols = pairs.zipWithIndex.map { case ((in, _), i) => s"$in AS __k$i" }
            s"SELECT ${keyCols.mkString(", ")}, $aggExpr AS __v FROM $baseName$whereSql GROUP BY ${pairs.map(_._1).mkString(", ")}"
          }
        // the correlated outer ref may be a view-level expression dim
        // (yr = year(o_orderdate)); join on its base-level expression, which
        // resolves against the base CTE the frame is joined to
        val joinOn =
          if (pairs.isEmpty) None
          else Some(pairs.zipWithIndex.map { case ((_, out), i) =>
            s"$name.__k$i <=> (${substToBase(out, v, allAliases)})" }.mkString(" AND "))
        RowFrame(name, sql, joinOn, s"$name.__v")
      })
      f.valueRef
    }

    val spans = calls.map(c => (c.start, c.end, planRowCall(c)))
    (frames.values.toList, spans)
  }

  private def expandRowLevel(clauses: SelectClauses, v: MeasureView,
                             valiases: Set[String], allAliases: Set[String],
                             calls: List[AggCall]): String = {
    val u = uid.incrementAndGet()
    val baseName = s"__base$u"
    val w = clauses.where.get
    val (frames, spans) = buildRowFrames(u, baseName, v, valiases, allAliases, calls)
    val toBase = tokenToBase(allAliases) _
    val whereRendered = renderWithReplacements(w, spans, toBase)
    // `*` (or `alias.*` on the measure view) must project the BASE relation
    // only — a bare star over the joined shape would leak the row frames'
    // internal __k/__v columns into the output schema
    val itemsRendered = clauses.selectItems.map { i =>
      val t = i.trim
      if (t == "*") s"$baseName.*"
      else if (t.endsWith(".*") && valiases.contains(t.dropRight(2).toLowerCase)) s"$baseName.*"
      else mapTokens(i, toBase)
    }.mkString(", ")
    val orderRendered = clauses.orderBy.map(o => mapTokens(o, toBase))

    val sb = new StringBuilder
    sb.append(s"WITH $baseName AS (${v.baseRelationSql})")
    for (f <- frames) sb.append(s", ${f.cte} AS (${f.sql})")
    sb.append(s" SELECT ${if (clauses.distinct) "DISTINCT " else ""}$itemsRendered FROM $baseName")
    sb.append(leftJoins(frames))
    sb.append(s" WHERE $whereRendered")
    orderRendered.foreach(o => sb.append(s" ORDER BY $o"))
    clauses.limitText.foreach(l => sb.append(s" $l"))
    sb.toString
  }

  /** Non-column tokens Scan.identifiers can return inside a predicate. */
  private val sqlKeywords: Set[String] = Set(
    "and", "or", "not", "in", "is", "null", "like", "ilike", "rlike",
    "between", "case", "when", "then", "else", "end", "true", "false",
    "exists", "distinct", "cast", "as", "asc", "desc", "escape",
    "interval", "date", "timestamp", "all", "any", "some")

  private def splitTopAnd(w: String, mask: Array[Boolean]): List[String] = {
    // SQL precedence: AND binds tighter than OR, so `a AND b OR c` is
    // (a AND b) OR c — with any top-level OR the expression is ONE
    // disjunctive predicate, not an AND-chain. Splitting it would silently
    // regroup the precedence (conjunct classification, visible-filter
    // pushdown); returning it whole keeps every caller conservative.
    if (Scan.findTopLevelWord(w, mask, "OR", 0, w.length) >= 0)
      return List(w.trim).filter(_.nonEmpty)
    val out = scala.collection.mutable.ListBuffer[String]()
    var start = 0
    var i = 0
    var depth = 0
    while (i < w.length) {
      if (!mask(i)) {
        val c = w.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth < 0) depth = 0 }
        else if (depth == 0 && (i == 0 || !Scan.isIdentChar(w.charAt(i - 1))) &&
            w.regionMatches(true, i, "AND", 0, 3) &&
            (i + 3 >= w.length || !Scan.isIdentChar(w.charAt(i + 3)))) {
          out += w.substring(start, i).trim
          start = i + 3
          i += 2
        }
      }
      i += 1
    }
    out += w.substring(start).trim
    out.toList.filter(_.nonEmpty)
  }
}
