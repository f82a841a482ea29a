package graft.syntax

import graft.catalog.{MeasureKind, ViewMeasure}

/** Parsed `CREATE VIEW ... AS SELECT ... <expr> AS MEASURE <name> ... FROM ...`.
  *
  * Reference behavior: process_create_view / extract_measures_from_sql,
  * /root/reference/yardstick-rs/src/sql/measures.rs:4401-4573. We parse the
  * statement into clause spans (instead of the reference's backward
  * expression scan over raw bytes) and classify each measure.
  */
final case class ParsedMeasureView(
    viewName: String,
    orReplace: Boolean,
    temporary: Boolean,
    clauses: SelectClauses,
    // select items in order: Left(dimText) | Right(measure)
    items: Seq[Either[String, ViewMeasure]],
    baseRelationSql: String,
    dimensionExprs: Map[String, String],
    dimensionOrder: Seq[String],
    groupByCols: Seq[String],
    // leading `WITH ctes` prefix of the view body ("" when none) — prepended
    // to both the clean view and the base relation
    ctePrefix: String = "",
    // non-empty when the view body is a top-level set operation: one entry
    // per branch, in order. The clean view is then rendered branch-by-branch
    // (GraftEngine), and `items` holds the FIRST branch's items plus any
    // later-branch measures with new names (first declaration wins).
    setOpBranches: Seq[SetOpBranch] = Nil,
    // whole-set-op trailing ORDER BY / LIMIT / OFFSET text (split off the
    // last branch up front — in an unparenthesized chain it always binds to
    // the whole set operation); re-appended OUTSIDE the branch renders so a
    // parenthesized last branch cannot capture it
    setOpTail: String = ""
) {
  def measures: Seq[ViewMeasure] = items.collect { case Right(m) => m }
}

/** One branch of a set-operation measure-view body. `op` is "" for the
  * first branch, else the operator text with its ALL/DISTINCT modifier.
  */
final case class SetOpBranch(
    op: String,
    clauses: SelectClauses,
    items: Seq[Either[String, ViewMeasure]],
    // true when the branch was written parenthesized — `(SELECT …)`; renders
    // re-wrap it so operator precedence is preserved verbatim
    parenWrapped: Boolean = false)

object MeasureDdl {

  private val createRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP\s+|TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*|"[^"]+"|`[^`]+`)\s+AS\s+(.*)$""".r

  /** Quick containment check (mask-aware). Reference: yardstick_has_as_measure,
    * measures.rs:200-205.
    */
  def hasAsMeasure(sql: String): Boolean = {
    val mask = Scan.buildMask(sql)
    Scan.findTopLevelSeq(sql, mask, Seq("AS", "MEASURE"), 0, sql.length) != null ||
    hasNestedAsMeasure(sql, mask)
  }
  // AS MEASURE may sit at paren depth > 0 (e.g. CREATE VIEW v AS (SELECT ...))
  private def hasNestedAsMeasure(sql: String, mask: Array[Boolean]): Boolean = {
    val re = "(?i)\\bAS\\s+MEASURE\\b".r
    re.findAllMatchIn(sql).exists(m => !mask(m.start))
  }

  /** Aggregate function names recognized for classification. Spark + DuckDB
    * spellings (the engine shims DuckDB names at query time).
    */
  val aggregateFns: Set[String] = Set(
    "sum", "count", "avg", "mean", "min", "max", "product",
    "stddev", "stddev_pop", "stddev_samp", "std",
    "variance", "var_pop", "var_samp",
    "median", "mode", "percentile", "percentile_cont", "percentile_disc",
    "percentile_approx", "approx_percentile", "approx_count_distinct",
    "quantile", "quantile_cont", "quantile_disc",
    "string_agg", "array_agg", "listagg", "list", "collect_list", "collect_set",
    "first", "last", "first_value", "last_value", "any_value", "arbitrary",
    "bool_and", "bool_or", "every", "some",
    "corr", "covar_pop", "covar_samp", "skewness", "kurtosis",
    "count_if", "sum_distinct", "bit_and", "bit_or", "bit_xor",
    "min_by", "max_by", "arg_min", "arg_max",
    "regr_avgx", "regr_avgy", "regr_count", "regr_slope", "regr_intercept",
    "regr_r2", "regr_sxx", "regr_syy", "regr_sxy",
    "histogram", "entropy", "favg", "fsum"
  )

  /** Non-decomposable aggregate names (recomputed from base rows; the clean
    * view keeps them materialized). Reference: NON_DECOMPOSABLE_AGGREGATES,
    * measures.rs:3129-3150.
    */
  val nonDecomposableFns: Set[String] = Set(
    "median", "mode", "percentile", "percentile_cont", "percentile_disc",
    "percentile_approx", "approx_percentile",
    "quantile", "quantile_cont", "quantile_disc", "approx_count_distinct"
  )

  private def hasTopLevelOver(expr: String): Boolean = {
    val mask = Scan.buildMask(expr)
    Scan.findTopLevelWord(expr, mask, "OVER", 0, expr.length) >= 0
  }

  private def hasDistinctInsideCall(expr: String): Boolean = {
    val mask = Scan.buildMask(expr)
    val p = expr.toLowerCase
    val re = "\\(\\s*distinct\\b".r
    re.findAllMatchIn(p).exists(m => !mask(m.start))
  }

  def classify(expr: String, siblingMeasuresLower: Set[String]): MeasureKind = {
    if (hasTopLevelOver(expr)) return MeasureKind.Window
    val ids = Scan.identifiers(expr, Scan.buildMask(expr), 0, expr.length)
    val calls = ids.collect { case (t, _, e) if Scan.isCallAt(expr, e) => Scan.lastPart(t).toLowerCase }
    val refsSibling = Scan.columnRefs(expr, Scan.buildMask(expr), 0, expr.length)
      .exists(t => siblingMeasuresLower.contains(Scan.lastPart(t._1).toLowerCase))
    if (refsSibling && !calls.exists(aggregateFns.contains)) MeasureKind.Derived
    else if (calls.exists(nonDecomposableFns.contains) || hasDistinctInsideCall(expr))
      MeasureKind.NonDecomposable
    else MeasureKind.Decomposable
  }

  /** Parse a CREATE VIEW statement carrying AS MEASURE items. Returns None
    * when the statement is not such a view.
    */
  def parse(sqlRaw: String): Option[ParsedMeasureView] = {
    val sql = sqlRaw.trim.stripSuffix(";")
    if (!hasAsMeasure(sql)) return None
    sql match {
      case createRe(orRepl, temp, _, rawName, body0) =>
        val viewName = rawName.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`")
        // body may be parenthesized
        val body1 = Scan.unwrapParens(body0).getOrElse(body0).trim
        // a leading CTE list stays attached to both the clean view and the
        // base relation (reference: CTE-bodied measure views)
        val (ctePrefix, body) = SqlClauses.splitWith(body1) match {
          case Some(w) => (body1.substring(0, w.mainStart).trim, body1.substring(w.mainStart).trim)
          case None => ("", body1)
        }
        val clausesOpt = SqlClauses.parse(body)

        // set-operation bodies take a branch-aware path: the reference
        // wraps the whole (cleaned) set-op query as the base relation
        // (measures.rs:2645-2650) and replaces AS MEASURE slots wherever
        // they appear (measures.rs:4482-4546). A parenthesized FIRST branch
        // hides its SELECT from the clause scanner (depth > 0), so also
        // detect top-level set ops on the raw body text.
        val bodyHasSetOp = clausesOpt.map(_.hasSetOp).getOrElse {
          body.startsWith("(") &&
            SqlClauses.setOpSpans(body, Scan.buildMask(body)).nonEmpty
        }
        if (bodyHasSetOp)
          return parseSetOpView(viewName, orRepl != null, temp != null,
            clausesOpt, body, ctePrefix)
        val clauses = clausesOpt.getOrElse(return None)

        // collect measure names first (two-pass, for derived classification)
        val measureNames = measureNamesOf(clauses)
        if (measureNames.isEmpty) return None
        val items = classifyItems(clauses, measureNames)

        // base relation: SELECT * FROM <from> [WHERE <where>]
        // (set-op bodies returned above on the branch-aware path)
        val pfx = if (ctePrefix.isEmpty) "" else ctePrefix + " "
        val baseRelationSql = {
          val f = clauses.from.getOrElse(return None)
          val w = clauses.where.map(w => s" WHERE $w").getOrElse("")
          s"${pfx}SELECT * FROM $f$w"
        }

        // dimension exprs: every non-measure select item alias -> expr
        val dimPairs = items.collect { case Left(item) => dimNameAndExpr(item) }

        Some(ParsedMeasureView(
          viewName = viewName,
          orReplace = orRepl != null,
          temporary = temp != null,
          clauses = clauses,
          items = items,
          baseRelationSql = baseRelationSql,
          dimensionExprs = dimPairs.map { case (n, e) => n.toLowerCase -> e }.toMap,
          dimensionOrder = dimPairs.map(_._1),
          groupByCols = groupByCols(clauses, measureNames),
          ctePrefix = ctePrefix
        ))
      case _ => None
    }
  }

  /** Lowercased names of the AS MEASURE items of one SELECT. */
  private def measureNamesOf(c: SelectClauses): Set[String] =
    c.selectItems.flatMap(parseMeasureItem).map(_._2.toLowerCase).toSet

  /** Select items in order as Left(dimText) | Right(measure); `allNames`
    * (every measure name of the view) drives derived classification.
    */
  private def classifyItems(c: SelectClauses, allNames: Set[String])
      : List[Either[String, ViewMeasure]] =
    c.selectItems.map { item =>
      parseMeasureItem(item) match {
        case Some((expr, name)) =>
          Right(ViewMeasure(name, expr.trim, classify(expr, allNames - name.toLowerCase)))
        case None => Left(item)
      }
    }

  /** (output name, expression) of a dimension select item. Quoted aliases
    * arrive unquoted from splitAlias and are fine when identifier-safe;
    * spaces/punctuation would break dim-token resolution through the whole
    * query surface — same policy as measure names, failed loudly here
    * instead of an unresolved-column error at query time.
    */
  private def dimNameAndExpr(item: String): (String, String) = {
    val (expr, aliasOpt) = SqlClauses.splitAlias(item)
    if (aliasOpt.exists(a => !a.forall(Scan.isIdentChar)))
      throw new graft.planner.GraftException(
        s"dimension alias '${aliasOpt.get}' is not a plain identifier; quoted dimension " +
          "aliases with spaces or punctuation are not supported in measure views — use " +
          "an identifier (e.g. return_flag)")
    (aliasOpt.orElse(SqlClauses.plainColumnName(expr)).getOrElse(expr), expr)
  }

  /** GROUP BY columns of a view body, measure names excluded. */
  private def groupByCols(c: SelectClauses, measureNames: Set[String]): List[String] =
    c.groupBy.toList.flatMap { g =>
      Scan.splitTopLevel(g, Scan.buildMask(g), ',', 0, g.length)
        .map { case (s, e) => g.substring(s, e).trim }
        .filter(c => c.nonEmpty && !measureNames.contains(c.toLowerCase))
    }

  /** Parse a measure view whose body is a top-level set operation.
    *
    * Reference semantics (measures.rs:2645-2650): the base relation is the
    * WHOLE set-op query wrapped — i.e. the measure context rows are the
    * set-op OUTPUT rows, not any branch's raw FROM. Consequences here:
    *  - dimension exprs are IDENTITY on the first branch's output aliases
    *    (the base already carries those columns), unlike the single-SELECT
    *    path where dims map to their underlying expressions;
    *  - measure slots render as inert `NULL AS name` in the base relation,
    *    so the base row multiset is exactly the union output (the reference
    *    wraps its clean query, whose materialized non-decomposable slots +
    *    appended GROUP BY ALL would collapse duplicate rows — corpus-
    *    uncovered corner, resolved here in favor of multiset fidelity);
    *  - measures may be declared in ANY branch (the reference replaces
    *    every ` AS MEASURE ` occurrence); the first declaration of a name
    *    wins for the catalog, and every declaring slot is replaced.
    */
  private def parseSetOpView(viewName: String, orReplace: Boolean,
                             temporary: Boolean, wholeClausesOpt: Option[SelectClauses],
                             body: String, ctePrefix: String): Option[ParsedMeasureView] = {
    // Whole-set-op tail (r11 verdict task 4b): a top-level ORDER BY / LIMIT
    // / OFFSET in the LAST branch always binds to the whole set operation,
    // so it is split off before branch parsing and re-appended outside the
    // branch renders.
    val (raw, setOpTail) = SqlClauses.splitSetOp(body)
    if (raw.isEmpty) return None
    // Parenthesized branches (r11 verdict task 4a): a branch that is one
    // fully parenthesized SELECT unwraps (the paren carries no precedence
    // information a single SELECT can lose, and renders re-wrap it). A paren
    // branch that nests its own set operation, or carries trailing text
    // after the group, stays unsupported — but with a GUIDED error naming
    // the limitation instead of Spark's raw AS MEASURE parse failure.
    val unwrapped = raw.map { case (op, b) =>
      var inner = b
      while (inner.startsWith("("))
        inner = Scan.unwrapParens(inner).getOrElse(
          throw new graft.planner.GraftException(
            "a parenthesized branch of a set-operation measure view must wrap exactly one " +
              "SELECT — text trailing the closing paren, or an ORDER BY/LIMIT nested between " +
              "paren layers, is not supported; a whole-set-op ORDER BY/LIMIT goes after the " +
              s"last branch (outside its parens). Branch: ${b.take(80)}")).trim
      if (b.startsWith("(") && SqlClauses.setOpSpans(inner, Scan.buildMask(inner)).nonEmpty)
        throw new graft.planner.GraftException(
          "nested set operations inside a parenthesized branch of a measure view body are " +
            "not supported — flatten the chain (UNION/EXCEPT associate left-to-right and " +
            "INTERSECT binds tighter, so prefix parens are redundant) or move the inner " +
            "set operation into a CTE and select from it")
      (op, inner, b.startsWith("("))
    }
    val parsed = unwrapped.map { case (op, b, wrapped) =>
      (op, SqlClauses.parse(b).getOrElse(return None), wrapped)
    }
    val allNames = parsed.flatMap(p => measureNamesOf(p._2)).toSet
    if (allNames.isEmpty) return None
    val branches = parsed.map { case (op, c, wrapped) =>
      SetOpBranch(op, c, classifyItems(c, allNames), parenWrapped = wrapped)
    }
    // Measure-sorted row cut (r12 ADVICE): the base relation nulls every
    // measure slot, so a whole-set-op ORDER BY naming a measure sorts
    // CAST(NULL AS INT) there — with a LIMIT/OFFSET the base row cut is
    // NULL-ordered/nondeterministic and can diverge from the clean view's
    // visible rows, silently recomputing AGGREGATE() over a different
    // multiset. Guided error, like the nested-set-op case.
    if (setOpTail.nonEmpty) {
      val tm = Scan.buildMask(setOpTail)
      val oPos = Scan.findTopLevelWord(setOpTail, tm, "ORDER", 0, setOpTail.length)
      val cutPos = Seq("LIMIT", "OFFSET")
        .map(k => Scan.findTopLevelWord(setOpTail, tm, k, 0, setOpTail.length))
        .filter(_ >= 0).sorted.headOption
      if (oPos >= 0 && cutPos.exists(_ > oPos)) {
        val orderText = setOpTail.substring(oPos, cutPos.get)
        val om = Scan.buildMask(orderText)
        // bare positional ordinals resolve against the first branch's
        // select list — an ordinal landing on a measure slot is the same
        // NULL-sorted cut
        val measureSlots = branches.head.items.zipWithIndex
          .collect { case (Right(m), i) => (i + 1) -> m.name }.toMap
        val ordinalHit = orderText.toUpperCase.stripPrefix("ORDER").trim
          .stripPrefix("BY").split(",").iterator.map(_.trim)
          .flatMap { seg =>
            val head = seg.takeWhile(_.isDigit)
            if (head.nonEmpty && (head == seg ||
                seg.substring(head.length).headOption.exists(_.isWhitespace)))
              measureSlots.get(head.toInt)
            else None
          }.toSeq.headOption
        val measureInOrder = Scan.identifiers(orderText, om, 0, orderText.length)
          .map(t => Scan.lastPart(t._1).toLowerCase).find(allNames.contains)
          .orElse(ordinalHit.map(_.toLowerCase))
        measureInOrder.foreach { m =>
          throw new graft.planner.GraftException(
            s"ORDER BY on measure '$m' combined with LIMIT/OFFSET across a whole " +
              "set-operation measure view is not supported: the view's base relation " +
              "carries NULL measure slots, so the row cut would be NULL-ordered and " +
              "could diverge from the visible rows. Sort on a dimension column, or " +
              "materialize the query with CTAS and LIMIT over the result")
        }
      }
    }

    // catalog items: the first branch in full, plus later-branch measures
    // with names not already declared (first declaration wins)
    val seen = scala.collection.mutable.Set[String]()
    branches.head.items.foreach { case Right(m) => seen += m.name.toLowerCase; case _ => () }
    val items: Seq[Either[String, ViewMeasure]] = branches.head.items ++
      branches.tail.flatMap(_.items.collect {
        case Right(m) if seen.add(m.name.toLowerCase) => Right(m)
      })

    // dims: first branch's non-measure aliases, identity-mapped. A slot
    // whose name is declared AS MEASURE in a LATER branch (e.g. first
    // branch carries `NULL AS m`) is a measure slot, not a dimension.
    val dimNames = branches.head.items.collect { case Left(item) => dimNameAndExpr(item)._1 }
      .filterNot(n => allNames.contains(n.toLowerCase))

    val baseBody = branches.map { br =>
      val slotItems = br.items.map {
        case Left(d) => d
        // TYPED null slots, deliberately: an untyped NULL column is
        // NullType (void) in Spark, and EXCEPT/INTERSECT over table-backed
        // plans fail to match rows across void columns (observed on
        // 4.1.2: A EXCEPT B keeps a row present in both when the
        // projection carries bare-NULL slots; typing the slot fixes it).
        // The slot value is inert — measure expressions read the raw
        // columns, never the slot — so any consistent type works.
        case Right(m) => s"CAST(NULL AS INT) AS ${m.name}"
      }
      val sel0 = renderBranch(br.clauses, slotItems, groupByAll = false)
      val sel = if (br.parenWrapped) s"($sel0)" else sel0
      if (br.op.isEmpty) sel else s"${br.op} $sel"
    }.mkString(" ")
    val pfx = if (ctePrefix.isEmpty) "" else ctePrefix + " "
    // the tail stays INSIDE the wrap: base rows are the post-ORDER BY/LIMIT
    // set-op output (measure contexts recompute over what the view shows)
    val tailSql = if (setOpTail.isEmpty) "" else s" $setOpTail"
    val baseRelationSql = s"${pfx}SELECT * FROM ( $baseBody$tailSql ) __setop"

    Some(ParsedMeasureView(
      viewName = viewName,
      orReplace = orReplace,
      temporary = temporary,
      // nothing reads .clauses on the set-op path (renders use the
      // branches); the first branch stands in when the whole-body scan
      // failed on a parenthesized first branch
      clauses = wholeClausesOpt.getOrElse(branches.head.clauses),
      items = items,
      baseRelationSql = baseRelationSql,
      dimensionExprs = dimNames.map(n => n.toLowerCase -> n).toMap,
      dimensionOrder = dimNames,
      groupByCols = groupByCols(branches.head.clauses, allNames),
      ctePrefix = ctePrefix,
      setOpBranches = branches,
      setOpTail = setOpTail
    ))
  }

  /** Re-render one parsed SELECT with a replaced select list; clause order
    * and texts are otherwise preserved. `groupByAll` appends GROUP BY ALL
    * when the branch has no GROUP BY (materialized non-decomposable slots
    * need an aggregate query to be a valid view).
    */
  def renderBranch(c: SelectClauses, selectItems: Seq[String],
                   groupByAll: Boolean): String = {
    val dist = if (c.distinct) "DISTINCT " else ""
    val sb = new StringBuilder(s"SELECT $dist${selectItems.mkString(", ")}")
    c.from.foreach(f => sb.append(s" FROM $f"))
    c.where.foreach(w => sb.append(s" WHERE $w"))
    c.groupBy match {
      case Some(g) => sb.append(s" GROUP BY $g")
      case None => if (groupByAll) sb.append(" GROUP BY ALL")
    }
    c.having.foreach(h => sb.append(s" HAVING $h"))
    c.qualify.foreach(q => sb.append(s" QUALIFY $q"))
    c.orderBy.foreach(o => sb.append(s" ORDER BY $o"))
    c.limitText.foreach(l => sb.append(s" $l"))
    sb.toString
  }

  /** "expr AS MEASURE name" -> Some((expr, name)). */
  private def parseMeasureItem(item: String): Option[(String, String)] = {
    val mask = Scan.buildMask(item)
    val seq = Scan.findTopLevelSeq(item, mask, Seq("AS", "MEASURE"), 0, item.length)
    if (seq == null) return None
    val (start, end) = seq
    val name = item.substring(end).trim
    val cleanName =
      if (name.length > 1 && ((name.head == '"' && name.last == '"') ||
          (name.head == '`' && name.last == '`')))
        name.substring(1, name.length - 1)
      else name
    if (cleanName.isEmpty) return None
    // quoted names are fine when identifier-safe (case preservation); a
    // name with spaces/punctuation would need quoting through the whole
    // AGGREGATE() call surface — fail loudly instead of leaking the raw
    // `AS MEASURE` text into a Spark parse error
    if (!cleanName.forall(Scan.isIdentChar))
      throw new graft.planner.GraftException(
        s"measure name '$cleanName' is not a plain identifier; quoted measure names with " +
          "spaces or punctuation are not supported — use an identifier (e.g. total_qty)")
    Some((item.substring(0, start).trim, cleanName))
  }

  /** Extract view name from a DROP VIEW statement (reference:
    * extract_drop_view_name, measures.rs:1465).
    */
  private val dropRe =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+|TEMP\s+)?VIEW\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*|"[^"]+"|`[^`]+`)(?:\s+CASCADE|\s+RESTRICT)?\s*;?\s*$""".r
  def dropViewName(sql: String): Option[String] = sql match {
    case dropRe(_, rawName) =>
      Some(rawName.stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`"))
    case _ => None
  }
}
