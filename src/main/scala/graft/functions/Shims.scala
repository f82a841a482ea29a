package graft.functions

import graft.syntax.Scan

/** DuckDB -> Spark SQL surface shims, applied to statement text before
  * parsing. Only function-call *names* are touched (mask- and call-aware),
  * plus the QUANTILE_DISC(x, q) inline-arg form which Spark expresses as
  * percentile_disc(q) WITHIN GROUP (ORDER BY x).
  *
  * Spark 4 already parses `::` casts and PERCENTILE_CONT/DISC ... WITHIN
  * GROUP natively, so those need no rewrite (reference rewrites them for
  * DuckDB: yardstick_extension.cpp:80-230).
  */
object Shims {

  private val fnRenames: Map[String, String] = Map(
    "array_length" -> "size",
    "list_aggregate" -> "aggregate",
    "quantile_cont" -> "percentile",
    "quantile" -> "percentile",
    "list" -> "collect_list",
    "arbitrary" -> "any_value",
    "strlen" -> "length",
    "regexp_matches" -> "rlike"
  )

  def apply(sql: String): String = {
    val step0 = rewriteDollarQuotes(sql)
    val step1 = rewriteQuantileDisc(step0)
    val step2 = rewriteVarcharCasts(step1)
    val step3 = rewriteArrayLiterals(step2) // before list_aggregate: bracket commas break arg splitting
    val step4 = rewriteListAggregate(step3)
    val step5 = rewriteOrderedAggs(step4) // before rewriteStringAgg / LIST rename
    val step6 = rewriteStringAgg(step5)
    val step7 = rewriteProductEntropy(step6)
    val step8 = rewriteGenerateSeries(step7)
    val step9 = rewriteMoments(step8)
    renameCalls(step9)
  }
  // NOTE: DuckDB's `main.x` schema qualifier is resolved by GraftEngine
  // (permanent-view resolution under temp shadowing), not stripped here.

  /** `generate_series(a, b[, step]) AS t(x)` table function -> an
    * explode(sequence(...)) derived table.
    */
  private def rewriteGenerateSeries(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\bgenerate_series\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      if (close > 0) {
        val args = sql.substring(open + 1, close)
        val aliasRe = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)\\s*\\(\\s*([A-Za-z_]\\w*)\\s*\\)".r
        aliasRe.findFirstMatchIn(sql.substring(close + 1)) match {
          case Some(am) =>
            val (alias, colName) = (am.group(1), am.group(2))
            val repl = s"(SELECT explode(sequence($args)) AS $colName) $alias"
            return rewriteGenerateSeries(
              sql.substring(0, m.start) + repl + sql.substring(close + 1 + am.end))
          case None =>
        }
      }
    }
    sql
  }

  /** `STRING_AGG(x, sep ORDER BY y [DESC])` / `LIST(x ORDER BY y)` /
    * `ARRAY_AGG(x ORDER BY y)` — Spark's collect_list has no ORDER BY, so
    * the ordering is reconstructed by collecting (order-key, value) structs
    * and sorting: struct comparison is field-by-field, so __o sorts first.
    */
  private def rewriteOrderedAggs(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\b(string_agg|list|array_agg)\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val fn = m.group(1).toLowerCase
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      if (close > 0) {
        val inner = sql.substring(open + 1, close)
        val im = Scan.buildMask(inner)
        val ob = Scan.findTopLevelSeq(inner, im, Seq("ORDER", "BY"), 0, inner.length)
        if (ob != null) {
          val argsText = inner.substring(0, ob._1).trim
          val orderText = inner.substring(ob._2).trim
          // parse the key list: per-key optional ASC/DESC; NULLS FIRST/LAST
          // and mixed directions are out of scope for the struct-sort trick
          // (sort_array takes one direction) — leave those unrewritten
          val om = Scan.buildMask(orderText)
          val keysRaw = Scan.splitTopLevel(orderText, om, ',', 0, orderText.length)
            .map { case (s, e) => orderText.substring(s, e).trim }
          // a real NULLS FIRST/LAST suffix (not an identifier that merely
          // contains "nulls", e.g. ORDER BY nulls_count) marks the key
          // unsupported
          val nullsSuffix = "(?i)\\s+NULLS\\s+(FIRST|LAST)\\s*$".r
          val parsedKeys = keysRaw.map { k =>
            val u = k.toUpperCase
            if (nullsSuffix.findFirstIn(k).isDefined) None
            else if (u.endsWith(" DESC")) Some((k.substring(0, k.length - 5).trim, false))
            else if (u.endsWith(" ASC")) Some((k.substring(0, k.length - 4).trim, true))
            else Some((k, true))
          }
          val supported = parsedKeys.forall(_.isDefined) &&
            parsedKeys.flatten.map(_._2).distinct.lengthCompare(1) == 0
          if (supported && parsedKeys.nonEmpty) {
            val keys = parsedKeys.flatten
            val asc = keys.head._2
            val am = Scan.buildMask(argsText)
            val parts = Scan.splitTopLevel(argsText, am, ',', 0, argsText.length)
              .map { case (s, e) => argsText.substring(s, e).trim }
            val x = parts.headOption.getOrElse("")
            val keyFields = keys.zipWithIndex.map { case ((k, _), i) => s"($k) AS __o$i" }.mkString(", ")
            val sortedArr =
              s"transform(sort_array(collect_list(struct($keyFields, ($x) AS __x)), $asc), s -> s.__x)"
            val repl = fn match {
              case "string_agg" =>
                val sep = if (parts.length > 1) parts(1) else "','"
                s"array_join($sortedArr, $sep)"
              case _ => sortedArr
            }
            if (x.nonEmpty)
              return rewriteOrderedAggs(sql.substring(0, m.start) + repl + sql.substring(close + 1))
          }
        }
      }
    }
    sql
  }

  /** DuckDB aggregates Spark lacks, rebuilt from Spark aggregates:
    *  - `PRODUCT(x)` = sign-corrected `exp(sum(ln(abs(x))))` with an exact
    *    zero short-circuit (any zero -> 0).
    *  - `ENTROPY(x)` = Shannon entropy (log2) over the value histogram. The
    *    histogram is built by collecting the group and counting per distinct
    *    value with HOFs — correct but O(n·d) per group and interpreted; at
    *    real scale entropy should be a two-stage groupBy (value counts, then
    *    -sum(p·log2 p)), which is what the pipeline operators do.
    */
  private def rewriteProductEntropy(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\b(product|entropy)\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val fn = m.group(1).toLowerCase
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      if (close > 0) {
        val x = sql.substring(open + 1, close).trim
        val repl = fn match {
          case "product" =>
            s"(CASE WHEN count(CASE WHEN ($x) = 0 THEN 1 END) > 0 THEN CAST(0 AS DOUBLE) " +
              s"WHEN count($x) = 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE CAST(1 - 2 * pmod(count(CASE WHEN ($x) < 0 THEN 1 END), 2) AS DOUBLE) " +
              s"* exp(sum(ln(abs(CASE WHEN ($x) <> 0 THEN ($x) END)))) END)"
          case _ =>
            s"(CASE WHEN count($x) = 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE aggregate(transform(array_distinct(collect_list($x)), " +
              s"v -> size(filter(collect_list($x), e -> e <=> v))), CAST(0 AS DOUBLE), " +
              s"(acc, c) -> acc - (c / count($x)) * log2(c / count($x))) END)"
        }
        return rewriteProductEntropy(sql.substring(0, m.start) + repl + sql.substring(close + 1))
      }
    }
    sql
  }

  /** DuckDB's KURTOSIS/SKEWNESS are the bias-corrected SAMPLE statistics
    * (G2/G1); Spark's builtins are the population ones (g2/g1). Rebuilt from
    * raw moments so the values match DuckDB:
    *   G1 = sqrt(n(n-1))/(n-2) * m3/m2^1.5          (NULL when n<3 or m2=0)
    *   G2 = (n-1)/((n-2)(n-3)) * ((n+1)(m4/m2^2 - 3) + 6)   (NULL when n<4)
    * Central moments come from raw power sums (Catalyst dedupes the repeated
    * avg/count aggregates into one physical pass). Fine at corpus magnitudes;
    * catastrophic cancellation at |mean| >> stddev is the documented trade.
    */
  private def rewriteMoments(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\b(kurtosis|skewness)\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val fn = m.group(1).toLowerCase
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      // `kurtosis(x) OVER (w)` must not be rewritten: the raw-moment CASE is a
      // composite of several aggregates and cannot carry a single OVER clause
      val windowed = close > 0 && {
        var j = close + 1
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        sql.regionMatches(true, j, "OVER", 0, 4) &&
          (j + 4 >= sql.length || { val c = sql.charAt(j + 4); !c.isLetterOrDigit && c != '_' })
      }
      if (close > 0 && !windowed) {
        val x = s"CAST((${sql.substring(open + 1, close).trim}) AS DOUBLE)"
        val n = s"count($x)"
        val mu = s"avg($x)"
        val m2 = s"(avg($x*$x) - $mu*$mu)"
        val m3 = s"(avg($x*$x*$x) - 3*$mu*avg($x*$x) + 2*$mu*$mu*$mu)"
        val m4 = s"(avg($x*$x*$x*$x) - 4*$mu*avg($x*$x*$x) + 6*$mu*$mu*avg($x*$x) - 3*$mu*$mu*$mu*$mu)"
        val repl = fn match {
          case "skewness" =>
            s"(CASE WHEN $n < 3 OR $m2 <= 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE sqrt($n*($n-1.0))/($n-2.0) * $m3 / pow($m2, 1.5) END)"
          case _ =>
            s"(CASE WHEN $n < 4 OR $m2 <= 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE ($n-1.0)/(($n-2.0)*($n-3.0)) * (($n+1.0) * ($m4/($m2*$m2) - 3.0) + 6.0) END)"
        }
        return rewriteMoments(sql.substring(0, m.start) + repl + sql.substring(close + 1))
      }
    }
    sql
  }

  /** `::VARCHAR` and `CAST(x AS VARCHAR)` (no length) -> STRING. */
  private def rewriteVarcharCasts(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\bVARCHAR\\b(?!\\s*\\()".r
    val sb = new StringBuilder
    var pos = 0
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      if (m.start >= pos) {
        sb.append(sql.substring(pos, m.start)).append("STRING")
        pos = m.end
      }
    }
    sb.append(sql.substring(pos))
    sb.toString
  }

  /** DuckDB `[1, 2, 3]` array literals -> `array(1, 2, 3)`. A '[' is an
    * array literal when not preceded by an identifier/')'/']' (which would
    * be element access).
    */
  private def rewriteArrayLiterals(sql: String): String = {
    val mask = Scan.buildMask(sql)
    var i = 0
    while (i < sql.length) {
      if (!mask(i) && sql.charAt(i) == '[') {
        var k = i - 1
        while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
        val elementAccess = k >= 0 &&
          (Scan.isIdentChar(sql.charAt(k)) || sql.charAt(k) == ')' || sql.charAt(k) == ']')
        if (!elementAccess) {
          // find matching ]
          var depth = 0
          var j = i
          var close = -1
          while (close < 0 && j < sql.length) {
            if (!mask(j)) {
              val c = sql.charAt(j)
              if (c == '[') depth += 1
              else if (c == ']') { depth -= 1; if (depth == 0) close = j }
            }
            j += 1
          }
          if (close > 0) {
            val inner = sql.substring(i + 1, close)
            return rewriteArrayLiterals(sql.substring(0, i) + "array(" + inner + ")" + sql.substring(close + 1))
          }
        }
      }
      i += 1
    }
    sql
  }

  /** `STRING_AGG(x[, sep])` -> `array_join(collect_list(x), sep)`
    * (Spark's listagg variant availability differs across builds; the
    * collect_list form is stable). Order is partition order, matching
    * DuckDB's insertion order on small unordered inputs.
    */
  private def rewriteStringAgg(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\bstring_agg\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      if (close > 0) {
        val inner = sql.substring(open + 1, close)
        val im = Scan.buildMask(inner)
        // ordered forms are rewriteOrderedAggs' job; an unsupported ordered
        // form (NULLS/mixed directions) must not be garbled here — leave it
        // for Spark to reject with the original text
        if (Scan.findTopLevelSeq(inner, im, Seq("ORDER", "BY"), 0, inner.length) == null) {
          val parts = Scan.splitTopLevel(inner, im, ',', 0, inner.length)
            .map { case (s, e) => inner.substring(s, e).trim }
          val (x, sep) = parts match {
            case a :: Nil => (a, "','")
            case a :: b :: Nil => (a, b)
            case _ => (null, null)
          }
          if (x != null)
            return rewriteStringAgg(sql.substring(0, m.start) +
              s"array_join(collect_list($x), $sep)" + sql.substring(close + 1))
        }
      }
    }
    sql
  }

  /** DuckDB `list_aggregate(arr, 'fn')` / `aggregate(arr, 'fn')` /
    * `list_aggr(arr, 'fn')` -> Spark equivalents.
    */
  private def rewriteListAggregate(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\b(list_aggregate|list_aggr|aggregate)\\s*\\(".r
    for (m <- re.findAllMatchIn(sql) if !mask(m.start)) {
      val open = sql.indexOf('(', m.start)
      val close = Scan.matchParen(sql, mask, open)
      if (close > 0) {
        val inner = sql.substring(open + 1, close)
        val im = Scan.buildMask(inner)
        val parts = Scan.splitTopLevel(inner, im, ',', 0, inner.length)
          .map { case (s, e) => inner.substring(s, e).trim }
        if (parts.length == 2 && parts(1).length > 2 &&
            parts(1).head == '\'' && parts(1).last == '\'') {
          val arr = parts(0)
          val fn = parts(1).substring(1, parts(1).length - 1).toLowerCase
          val repl = fn match {
            case "sum" => s"aggregate($arr, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            case "min" => s"array_min($arr)"
            case "max" => s"array_max($arr)"
            case "avg" | "mean" =>
              s"aggregate($arr, CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size($arr)"
            case "count" => s"size($arr)"
            case _ => null
          }
          if (repl != null)
            return rewriteListAggregate(sql.substring(0, m.start) + repl + sql.substring(close + 1))
        }
      }
    }
    sql
  }

  /** $tag$...$tag$ dollar-quoted strings -> standard single-quoted literals
    * (Spark has no dollar quoting). A dollar quote is a masked span that
    * STARTS at a '$' (a '$' inside a normal literal or comment is
    * mid-span and skipped).
    */
  private def rewriteDollarQuotes(sql: String): String = {
    val mask = Scan.buildMask(sql)
    var i = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '$' && mask(i) && (i == 0 || !mask(i - 1))) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '$') j += 1
        if (j < sql.length) {
          val tag = sql.substring(i, j + 1)
          val close = sql.indexOf(tag, j + 1)
          val innerEnd = if (close < 0) sql.length else close
          val end = if (close < 0) sql.length else close + tag.length
          val inner = sql.substring(j + 1, innerEnd)
          val replaced = sql.substring(0, i) +
            "'" + inner.replace("'", "''") + "'" + sql.substring(end)
          return rewriteDollarQuotes(replaced)
        }
      }
      i += 1
    }
    sql
  }

  private def renameCalls(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val ids = Scan.identifiers(sql, mask, 0, sql.length)
    if (ids.isEmpty) return sql
    val sb = new StringBuilder
    var pos = 0
    for ((tok, s, e) <- ids) {
      sb.append(sql.substring(pos, s))
      if (Scan.isCallAt(sql, e) && !tok.contains('.') && fnRenames.contains(tok.toLowerCase))
        sb.append(fnRenames(tok.toLowerCase))
      else sb.append(tok)
      pos = e
    }
    sb.append(sql.substring(pos))
    sb.toString
  }

  /** QUANTILE_DISC(col, q) -> percentile_disc(q) WITHIN GROUP (ORDER BY col). */
  private def rewriteQuantileDisc(sql: String): String = {
    val mask = Scan.buildMask(sql)
    val re = "(?i)\\bQUANTILE_DISC\\s*\\(".r
    val m = re.findFirstMatchIn(sql)
    m match {
      case Some(mm) if !mask(mm.start) =>
        val open = sql.indexOf('(', mm.start)
        val close = Scan.matchParen(sql, mask, open)
        if (close < 0) return sql
        val inner = sql.substring(open + 1, close)
        val innerMask = Scan.buildMask(inner)
        val parts = Scan.splitTopLevel(inner, innerMask, ',', 0, inner.length)
          .map { case (s, e) => inner.substring(s, e).trim }
        if (parts.length == 2) {
          val replaced = sql.substring(0, mm.start) +
            s"percentile_disc(${parts(1)}) WITHIN GROUP (ORDER BY ${parts(0)})" +
            sql.substring(close + 1)
          rewriteQuantileDisc(replaced) // handle multiple occurrences
        } else sql
      case _ => sql
    }
  }
}
