package graft.syntax

/** Clause-level decomposition of a single SELECT statement (no leading WITH).
  *
  * The reference extracts the same structure through a C++ FFI bridge to
  * DuckDB's parser (yardstick_parser_ffi.cpp) with a string fallback
  * (measures.rs:7168-7197). We only need clause *spans* — the clean SQL
  * inside each clause is handed to Spark's parser unchanged — so a
  * mask-aware scan is sufficient and keeps this module Spark-free.
  */
final case class SelectClauses(
    sql: String,
    distinct: Boolean,
    selectList: String,          // text between SELECT [DISTINCT] and FROM
    selectItems: List[String],   // top-level comma split of selectList
    from: Option[String],
    where: Option[String],
    groupBy: Option[String],
    having: Option[String],
    qualify: Option[String],
    orderBy: Option[String],
    limitText: Option[String],   // trailing "LIMIT n [OFFSET k]" text, if any
    hasSetOp: Boolean
)

/** One CTE of a WITH list: `header` is the name plus any column list, `raw`
  * the whole `name [(cols)] AS (body)` text.
  */
final case class Cte(name: String, header: String, body: String, raw: String)

/** A leading WITH list; the main query starts at offset `mainStart`. */
final case class WithList(recursive: Boolean, ctes: List[Cte], mainStart: Int)

/** One FROM item. `name` is None for a derived table; `alias` falls back to
  * the name. [start, end) spans the name (or paren group) plus the alias
  * when `hasAlias`.
  */
final case class FromItem(name: Option[String], alias: String, start: Int, end: Int,
                          hasAlias: Boolean)

object SqlClauses {

  /** Known clause starters after the select list, in order. */
  private val stops: List[Seq[String]] = List(
    Seq("FROM"), Seq("WHERE"), Seq("GROUP", "BY"), Seq("HAVING"),
    Seq("QUALIFY"), Seq("ORDER", "BY"), Seq("LIMIT"))

  def parse(sqlRaw: String): Option[SelectClauses] = {
    val sql = sqlRaw
    val mask = Scan.buildMask(sql)
    val n = sql.length
    val selPos = Scan.findTopLevelWord(sql, mask, "SELECT", 0, n)
    if (selPos < 0) return None
    // reject if anything substantive precedes SELECT (e.g. INSERT, CREATE)
    if (sql.substring(0, selPos).exists(c => !c.isWhitespace)) return None

    val hasSetOp = setOpSpans(sql, mask).exists(_._1 >= selPos)

    var cursor = selPos + "SELECT".length
    // optional DISTINCT
    var distinct = false
    val distPos = {
      var i = cursor
      while (i < n && (sql.charAt(i).isWhitespace || mask(i))) i += 1
      i
    }
    if (Scan.wordAt(sql, distPos, "DISTINCT")) {
      distinct = true
      cursor = distPos + 8
    }

    // locate each clause start
    def findStop(words: Seq[String], from: Int): Int = {
      val r = Scan.findTopLevelSeq(sql, mask, words, from, n)
      if (r == null) -1 else r._1
    }
    val positions: List[(Seq[String], Int)] =
      stops.map(w => (w, findStop(w, cursor))).filter(_._2 >= 0).sortBy(_._2)

    def clauseText(kw: Seq[String]): Option[String] = {
      val idx = positions.indexWhere(_._1 == kw)
      if (idx < 0) None
      else {
        val (_, start) = positions(idx)
        val seqEnd = Scan.findTopLevelSeq(sql, mask, kw, start, n)._2
        val end = if (idx + 1 < positions.length) positions(idx + 1)._2 else n
        Some(sql.substring(seqEnd, end).trim).filter(_.nonEmpty)
      }
    }

    val selectEnd = if (positions.nonEmpty) positions.head._2 else n
    val selectList = sql.substring(cursor, selectEnd).trim
    val items = Scan.splitTopLevel(sql, mask, ',', cursor, selectEnd)
      .map { case (s, e) => sql.substring(s, e).trim }.filter(_.nonEmpty)

    val limitIdx = positions.indexWhere(_._1 == Seq("LIMIT"))
    val limitText =
      if (limitIdx < 0) None
      else Some(sql.substring(positions(limitIdx)._2, n).trim)

    Some(SelectClauses(
      sql = sql,
      distinct = distinct,
      selectList = selectList,
      selectItems = items,
      from = clauseText(Seq("FROM")),
      where = clauseText(Seq("WHERE")),
      groupBy = clauseText(Seq("GROUP", "BY")),
      having = clauseText(Seq("HAVING")),
      qualify = clauseText(Seq("QUALIFY")),
      orderBy = clauseText(Seq("ORDER", "BY")),
      limitText = limitText,
      hasSetOp = hasSetOp
    ))
  }

  /** Split a statement at its top-level set operators into (opText,
    * branchSql) pairs — opText is "" for the first branch, else the
    * operator with its optional ALL/DISTINCT modifier (original casing) —
    * and the whole-statement ORDER BY / LIMIT / OFFSET tail ("" when none).
    * The tail sits in the last branch's text, but in an unparenthesized
    * chain it always binds to the whole set operation, so it is split off.
    * Nil branches when no top-level set operator exists.
    */
  def splitSetOp(stmt: String): (List[(String, String)], String) = {
    val sorted = setOpSpans(stmt, Scan.buildMask(stmt))
    if (sorted.isEmpty) return (Nil, "")
    val starts = 0 :: sorted.map(_._2)
    val ends = sorted.map(_._1) :+ stmt.length
    val texts = "" :: sorted.map(_._3)
    val branches = texts.lazyZip(starts).lazyZip(ends).map { (t, s, e) =>
      (t, stmt.substring(s, e).trim)
    }.toList
    val (lastOp, last) = branches.last
    val lm = Scan.buildMask(last)
    Seq("ORDER", "LIMIT", "OFFSET").map(k => Scan.findTopLevelWord(last, lm, k, 0, last.length))
      .filter(_ >= 0).sorted.headOption match {
      case Some(p) => (branches.init :+ (lastOp -> last.substring(0, p).trim), last.substring(p).trim)
      case None => (branches, "")
    }
  }

  /** Top-level set operators of a statement as (start, end, text) spans in
    * text order; `end` extends over an ALL/DISTINCT modifier. Spark's
    * select-list exclusion syntax — `SELECT * EXCEPT (col, …)` — is NOT a
    * set operator: an EXCEPT with no modifier whose next token is a
    * parenthesized group that does not itself start a query (SELECT / WITH /
    * VALUES / TABLE / FROM after any nested opening parens) is skipped
    * (r11 ADVICE: splitting there turned a valid measure view using
    * `* EXCEPT(c)` into a '('-leading pseudo-branch).
    */
  def setOpSpans(stmt: String, mask: Array[Boolean]): List[(Int, Int, String)] = {
    val ops = scala.collection.mutable.ListBuffer[(Int, Int, String)]()
    for (kw <- Seq("UNION", "INTERSECT", "EXCEPT")) {
      var from = 0
      var p = Scan.findTopLevelWord(stmt, mask, kw, from, stmt.length)
      while (p >= 0) {
        var e = p + kw.length
        val j = Scan.skipWs(stmt, e)
        var hasMod = false
        for (mod <- Seq("ALL", "DISTINCT") if Scan.wordAt(stmt, j, mod)) {
          e = j + mod.length
          hasMod = true
        }
        val selectListForm = kw == "EXCEPT" && !hasMod && isColumnListParen(stmt, mask, e)
        if (!selectListForm) ops += ((p, e, stmt.substring(p, e)))
        from = e
        p = Scan.findTopLevelWord(stmt, mask, kw, from, stmt.length)
      }
    }
    ops.sortBy(_._1).toList
  }

  /** True when position `from` (after whitespace) opens a parenthesized
    * group whose content is a column list rather than a query — the next
    * keyword through any nested opening parens is not a query starter.
    */
  private def isColumnListParen(stmt: String, mask: Array[Boolean], from: Int): Boolean = {
    // mask-covered positions (comments, strings, quoted identifiers) are
    // skipped at BOTH hops — `EXCEPT (/* note */ SELECT …)` is a genuine
    // set operation whose starter hides behind a comment, and
    // `* EXCEPT /* c */ (col)` is still the select-list form (r12 ADVICE)
    var j = from
    while (j < stmt.length && (mask(j) || stmt.charAt(j).isWhitespace)) j += 1
    if (j >= stmt.length || stmt.charAt(j) != '(') return false
    var k = j + 1
    while (k < stmt.length &&
           (mask(k) || stmt.charAt(k).isWhitespace || stmt.charAt(k) == '(')) k += 1
    !Seq("SELECT", "WITH", "VALUES", "TABLE", "FROM").exists(Scan.wordAt(stmt, k, _))
  }

  /** Split a leading `WITH [RECURSIVE] name [(cols)] AS (…), …` list off a
    * statement. None when the statement does not start with WITH or the
    * list does not scan. Names may be quoted; comments between tokens read
    * as whitespace, while the returned texts keep them.
    */
  def splitWith(sql: String): Option[WithList] = {
    val s = Scan.blankComments(sql) // same offsets as sql
    val mask = Scan.buildMask(s)
    var i = Scan.skipWs(s, 0)
    if (!Scan.wordAt(s, i, "WITH")) return None
    i = Scan.skipWs(s, i + 4)
    val recursive = Scan.wordAt(s, i, "RECURSIVE")
    if (recursive) i = Scan.skipWs(s, i + 9)
    val ctes = scala.collection.mutable.ListBuffer[Cte]()
    var more = true
    while (more) {
      val nameStart = i
      // a quoted name is one masked span
      if (i < s.length && mask(i)) { while (i < s.length && mask(i)) i += 1 }
      else { while (i < s.length && Scan.isIdentChar(s.charAt(i))) i += 1 }
      if (i == nameStart) return None
      val name = sql.substring(nameStart, i)
      var header = name
      i = Scan.skipWs(s, i)
      if (s.startsWith("(", i)) { // column list
        val close = Scan.matchParen(s, mask, i)
        if (close < 0) return None
        header += " " + sql.substring(i, close + 1)
        i = Scan.skipWs(s, close + 1)
      }
      if (!Scan.wordAt(s, i, "AS")) return None
      i = Scan.skipWs(s, i + 2)
      val close = if (s.startsWith("(", i)) Scan.matchParen(s, mask, i) else -1
      if (close < 0) return None
      ctes += Cte(name, header, sql.substring(i + 1, close), sql.substring(nameStart, close + 1))
      i = Scan.skipWs(s, close + 1)
      more = s.startsWith(",", i)
      if (more) i = Scan.skipWs(s, i + 1)
    }
    Some(WithList(recursive, ctes.toList, i))
  }

  private val joinWords =
    Set("join", "left", "right", "full", "inner", "cross", "outer", "semi", "anti", "lateral", "natural")
  private val notAlias = joinWords ++ Set("on", "using", "where", "group", "order")

  /** The items of a FROM clause in text order: each table (possibly
    * qualified or quoted) or table function, and each derived table
    * `(subquery) alias` (name None), with its optional `[AS] alias`.
    */
  def fromItems(from: String): List[FromItem] = {
    val mask = Scan.buildMask(from)
    val out = scala.collection.mutable.ListBuffer[FromItem]()
    var i = 0
    var depth = 0
    var expectItem = true
    // record an item whose name (or paren group) spans [s, e)
    def item(name: Option[String], s: Int, e: Int): Unit = {
      // a table function's argument list sits between name and alias
      var j = Scan.skipWs(from, e)
      if (name.isDefined && from.startsWith("(", j) && !mask(j)) {
        val close = Scan.matchParen(from, mask, j)
        j = Scan.skipWs(from, if (close < 0) from.length else close + 1)
      }
      val hasAs = Scan.wordAt(from, j, "AS")
      if (hasAs) j = Scan.skipWs(from, j + 2)
      var k = j
      while (k < from.length && Scan.isIdentChar(from.charAt(k))) k += 1
      val alias = from.substring(j, k)
      val aliased = alias.nonEmpty && (hasAs || !notAlias(alias.toLowerCase))
      out += (if (aliased) FromItem(name, alias, s, k, hasAlias = true)
              else FromItem(name, name.getOrElse(""), s, e, hasAlias = false))
      i = if (aliased) k else math.max(i, e)
      expectItem = false
    }
    while (i < from.length) {
      val c = from.charAt(i)
      if (depth == 0 && expectItem && c == '(' && !mask(i)) {
        val close = Scan.matchParen(from, mask, i)
        if (close < 0) i = from.length else item(None, i, close + 1)
      } else if (depth == 0 && expectItem && mask(i) && (c == '"' || c == '`')) {
        var e = i
        while (e < from.length && mask(e)) e += 1
        item(Some(from.substring(i, e)), i, e)
      } else if (mask(i)) i += 1
      else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth = math.max(0, depth - 1); i += 1 }
      else if (depth == 0 && c == ',') { expectItem = true; i += 1 }
      else if (depth == 0 && (c.isLetter || c == '_')) {
        val s = i
        while (i < from.length && (Scan.isIdentChar(from.charAt(i)) ||
               (from.charAt(i) == '.' && i + 1 < from.length && Scan.isIdentChar(from.charAt(i + 1))))) i += 1
        val wl = from.substring(s, i).toLowerCase
        if (wl == "join") expectItem = true
        else if (wl == "on" || wl == "using") expectItem = false
        else if (expectItem && !joinWords(wl)) item(Some(from.substring(s, i)), s, i)
      } else i += 1
    }
    out.toList
  }

  /** Split "a AS b" / "a b" select item into (expr, aliasOpt).
    * Only a trailing bare-identifier alias is recognized.
    */
  def splitAlias(item: String): (String, Option[String]) = {
    val mask = Scan.buildMask(item)
    // find last top-level " AS " (word)
    var asPos = -1
    var search = 0
    while (search < item.length) {
      val p = Scan.findTopLevelWord(item, mask, "AS", search, item.length)
      if (p < 0) search = item.length
      else { asPos = p; search = p + 2 }
    }
    if (asPos > 0) {
      val alias = item.substring(asPos + 2).trim
      if (alias.nonEmpty && alias.forall(Scan.isIdentChar) &&
          (alias.head.isLetter || alias.head == '_'))
        return (item.substring(0, asPos).trim, Some(alias))
      // quoted alias "x" or `x`
      if (alias.length > 1 &&
          ((alias.head == '"' && alias.last == '"') ||
           (alias.head == '`' && alias.last == '`')))
        return (item.substring(0, asPos).trim, Some(alias.substring(1, alias.length - 1)))
    }
    // bare trailing identifier alias: "<expr> alias" — only recognize when
    // expr would otherwise end with ')' or an identifier char and the last
    // token is a lone identifier separated by whitespace and the item is not
    // itself a single identifier
    val ids = Scan.identifiers(item, mask, 0, item.length)
    if (ids.nonEmpty) {
      val (tok, s, e) = ids.last
      if (e == item.length && s > 0 && item.charAt(s - 1).isWhitespace && !tok.contains('.')) {
        val exprPart = item.substring(0, s).trim
        if (exprPart.nonEmpty && !exprPart.equalsIgnoreCase("distinct") &&
            (exprPart.last == ')' || exprPart.last == '\'' || exprPart.last == '"')) {
          if (!reservedTail.contains(tok.toLowerCase))
            return (exprPart, Some(tok))
        }
      }
    }
    (item.trim, None)
  }

  private val reservedTail = Set("asc", "desc", "first", "last", "nulls")

  /** Column name a select item would get with no alias: plain (possibly
    * qualified) column ref -> last part; otherwise None.
    */
  def plainColumnName(expr: String): Option[String] = {
    val t = expr.trim
    val mask = Scan.buildMask(t)
    Scan.identifiers(t, mask, 0, t.length) match {
      case (tok, s, e) :: Nil if s == 0 && e == t.length => Some(Scan.lastPart(tok))
      case _ => None
    }
  }

  /** True when the expression is a bare literal constant (number, string,
    * TRUE/FALSE/NULL, or interval/typed literal). Reference:
    * is_literal_constant, measures.rs:7733-7786.
    */
  def isLiteral(expr: String): Boolean = {
    val t = expr.trim
    if (t.isEmpty) return false
    if (t.matches("(?i)[-+]?\\d+(\\.\\d+)?([eE][-+]?\\d+)?")) return true
    if (t.matches("(?i)(true|false|null)")) return true
    val mask = Scan.buildMask(t)
    // fully-masked = a single string literal
    if (mask.forall(identity)) return true
    if (t.matches("(?is)(date|timestamp|interval)\\s+'.*'")) return true
    false
  }
}
