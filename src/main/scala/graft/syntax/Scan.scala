package graft.syntax

/** Literal/comment-aware scanning utilities over raw SQL text.
  *
  * The reference keeps a ~1.5k-LoC hand-rolled lexical toolkit for this
  * (see /root/reference/yardstick-rs/src/sql/measures.rs:1812-2020,
  * find_matching_paren_sql :2380, balanced_parens :128-170). We keep only
  * the minimal surface needed to locate the measure-specific tokens
  * (`AS MEASURE`, `AGGREGATE(..) AT (..)`, `{m}`) before handing clean SQL
  * to Spark's own parser.
  */
object Scan {

  /** mask(i) == true when position i is inside a string literal, quoted
    * identifier, or comment (the quote/comment delimiters themselves are
    * masked too). Handles '' doubling, backslash escapes in single-quoted
    * literals (Spark's default Hive-style escaping), dollar-quoted strings
    * ($$..$$ / $tag$..$tag$, used by the reference corpus), and nested
    * block comments (SPARK-28880).
    */
  def buildMask(sql: String): Array[Boolean] = {
    val n = sql.length
    val m = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') {
        m(i) = true; i += 1
        var done = false
        while (i < n && !done) {
          m(i) = true
          val ch = sql.charAt(i)
          if (ch == '\\' && i + 1 < n) { m(i + 1) = true; i += 2 }
          else if (ch == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { m(i + 1) = true; i += 2 }
            else { i += 1; done = true }
          } else i += 1
        }
      } else if (c == '"') { // quoted identifier
        m(i) = true; i += 1
        var done = false
        while (i < n && !done) {
          m(i) = true
          if (sql.charAt(i) == '"') {
            if (i + 1 < n && sql.charAt(i + 1) == '"') { m(i + 1) = true; i += 2 }
            else { i += 1; done = true }
          } else i += 1
        }
      } else if (c == '`') { // Spark backtick identifier
        m(i) = true; i += 1
        var done = false
        while (i < n && !done) {
          m(i) = true
          if (sql.charAt(i) == '`') { i += 1; done = true } else i += 1
        }
      } else if (c == '$' && i + 1 < n &&
                 (sql.charAt(i + 1) == '$' || sql.charAt(i + 1).isLetter || sql.charAt(i + 1) == '_')) {
        // dollar-quoted string: $$...$$ or $tag$...$tag$
        var j = i + 1
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        if (j < n && sql.charAt(j) == '$') {
          val tag = sql.substring(i, j + 1) // includes both $
          val close = sql.indexOf(tag, j + 1)
          val end = if (close < 0) n else close + tag.length
          var k = i
          while (k < end) { m(k) = true; k += 1 }
          i = end
        } else i += 1
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') { m(i) = true; i += 1 }
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        var depth = 0
        var done = false
        while (i < n && !done) {
          if (sql.charAt(i) == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
            m(i) = true; m(i + 1) = true; i += 2; depth += 1
          } else if (sql.charAt(i) == '*' && i + 1 < n && sql.charAt(i + 1) == '/') {
            m(i) = true; m(i + 1) = true; i += 2; depth -= 1
            if (depth == 0) done = true
          } else { m(i) = true; i += 1 }
        }
      } else i += 1
    }
    m
  }

  def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** First index at or after `i` that is not whitespace. */
  def skipWs(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && s.charAt(j).isWhitespace) j += 1
    j
  }

  /** True when keyword `w` starts at `i` (case-insensitive) and no
    * identifier char follows it.
    */
  def wordAt(s: String, i: Int, w: String): Boolean =
    i + w.length <= s.length && s.regionMatches(true, i, w, 0, w.length) &&
    (i + w.length == s.length || !isIdentChar(s.charAt(i + w.length)))

  /** True when the identifier ending at `end` names a call: the next
    * non-whitespace char is '('.
    */
  def isCallAt(s: String, end: Int): Boolean = s.startsWith("(", skipWs(s, end))

  /** True when the identifier starting at `start` directly follows an AS
    * keyword — an alias or a cast target type, not a column reference.
    */
  def followsAs(s: String, start: Int): Boolean = {
    var k = start - 1
    while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
    k >= 1 && s.regionMatches(true, k - 1, "AS", 0, 2) &&
      (k - 2 < 0 || !isIdentChar(s.charAt(k - 2)))
  }

  /** Inner text of `s` when it is one fully parenthesized group (outer
    * whitespace ignored); None when it is not, e.g. `(a) b`.
    */
  def unwrapParens(s: String): Option[String] = {
    val t = s.trim
    if (t.startsWith("(") && matchParen(t, buildMask(t), 0) == t.length - 1)
      Some(t.substring(1, t.length - 1))
    else None
  }

  /** Index of the matching ')' for the '(' at `open`; -1 if unbalanced. */
  def matchParen(sql: String, mask: Array[Boolean], open: Int): Int = {
    require(sql.charAt(open) == '(')
    var depth = 0
    var i = open
    while (i < sql.length) {
      if (!mask(i)) {
        val c = sql.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth == 0) return i }
      }
      i += 1
    }
    -1
  }

  /** Find the first unmasked, paren-depth-0 occurrence of word-keyword `kw`
    * (single word, case-insensitive) in sql(from until until). Returns -1 if
    * absent. `kw` must be an identifier-like word. Depth is clamped at 0 so
    * a stray ')' cannot permanently hide top-level keywords.
    */
  def findTopLevelWord(sql: String, mask: Array[Boolean], kw: String,
                       from: Int, until: Int): Int = {
    var depth = 0
    var i = from
    val k = kw.length
    while (i < until) {
      if (!mask(i)) {
        val c = sql.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth < 0) depth = 0 }
        else if (depth == 0 && i + k <= until &&
                 sql.regionMatches(true, i, kw, 0, k) &&
                 (i == 0 || !isIdentChar(sql.charAt(i - 1))) &&
                 (i + k >= sql.length || !isIdentChar(sql.charAt(i + k)))) {
          return i
        }
      }
      i += 1
    }
    -1
  }

  /** Find first top-level occurrence of a multi-word keyword sequence like
    * Seq("GROUP","BY") with whitespace/comments (only) between words.
    * Returns (startIdx, endIdxExclusive) or null.
    */
  def findTopLevelSeq(sql: String, mask: Array[Boolean], words: Seq[String],
                      from: Int, until: Int): (Int, Int) = {
    var start = from
    while (start < until) {
      val p = findTopLevelWord(sql, mask, words.head, start, until)
      if (p < 0) return null
      // try to match the rest; between words allow whitespace and comments
      // (masked spans that start with a comment delimiter), not literals
      var i = p + words.head.length
      var ok = true
      var w = 1
      while (ok && w < words.length) {
        var progressed = true
        while (progressed && i < until) {
          progressed = false
          if (sql.charAt(i).isWhitespace) { i += 1; progressed = true }
          else if (mask(i) && (sql.charAt(i) == '-' || sql.charAt(i) == '/')) {
            // skip the whole masked comment span
            while (i < until && mask(i)) i += 1
            progressed = true
          }
        }
        val word = words(w)
        if (i < until && !mask(i) && i + word.length <= until &&
            sql.regionMatches(true, i, word, 0, word.length) &&
            (i + word.length >= sql.length || !isIdentChar(sql.charAt(i + word.length)))) {
          i += word.length
          w += 1
        } else ok = false
      }
      if (ok) return (p, i)
      start = p + 1
    }
    null
  }

  /** Split sql(from until until) at top-level unmasked `sep` chars.
    * Returns list of (start, endExclusive) spans. Depth clamped at 0.
    */
  def splitTopLevel(sql: String, mask: Array[Boolean], sep: Char,
                    from: Int, until: Int): List[(Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer[(Int, Int)]()
    var depth = 0
    var segStart = from
    var i = from
    while (i < until) {
      if (!mask(i)) {
        val c = sql.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth < 0) depth = 0 }
        else if (c == sep && depth == 0) { out += ((segStart, i)); segStart = i + 1 }
      }
      i += 1
    }
    out += ((segStart, until))
    out.toList
  }

  /** All unmasked identifier tokens with spans in sql(from,until).
    * Qualified names a.b.c are returned as ONE token ("a.b.c") when parts
    * are adjacent with '.' between them.
    */
  def identifiers(sql: String, mask: Array[Boolean], from: Int, until: Int)
      : List[(String, Int, Int)] = {
    val out = scala.collection.mutable.ListBuffer[(String, Int, Int)]()
    var i = from
    while (i < until) {
      if (!mask(i) && (Character.isLetter(sql.charAt(i)) || sql.charAt(i) == '_')) {
        val s = i
        while (i < until && !mask(i) && isIdentChar(sql.charAt(i))) i += 1
        // absorb qualified parts
        while (i < until && !mask(i) && sql.charAt(i) == '.' &&
               i + 1 < until && !mask(i + 1) &&
               (Character.isLetter(sql.charAt(i + 1)) || sql.charAt(i + 1) == '_')) {
          i += 1
          while (i < until && !mask(i) && isIdentChar(sql.charAt(i))) i += 1
        }
        out += ((sql.substring(s, i), s, i))
      } else i += 1
    }
    out.toList
  }

  /** identifiers() minus call names — the column-like tokens. */
  def columnRefs(sql: String, mask: Array[Boolean], from: Int, until: Int)
      : List[(String, Int, Int)] =
    identifiers(sql, mask, from, until).filterNot(t => isCallAt(sql, t._3))

  /** Normalize an expression string for structural comparison: lowercase,
    * collapse whitespace, drop spaces around punctuation. String/identifier
    * literals (masked spans) are copied verbatim so 'A' vs 'a' stay distinct.
    */
  def norm(e: String): String = {
    val t = e.trim
    val mask = buildMask(t)
    val sb = new StringBuilder
    var i = 0
    while (i < t.length) {
      if (mask(i)) { sb += t.charAt(i); i += 1 }
      else {
        val c = t.charAt(i)
        if (c.isWhitespace) {
          var j = i
          while (j < t.length && !mask(j) && t.charAt(j).isWhitespace) j += 1
          if (j < t.length && sb.nonEmpty && isIdentChar(sb.last) &&
              !mask(j) && isIdentChar(t.charAt(j)))
            sb += ' '
          i = j
        } else { sb += c.toLower; i += 1 }
      }
    }
    sb.toString
  }

  /** Last dot-separated part of a possibly-qualified identifier. */
  def lastPart(ident: String): String = {
    val dot = ident.lastIndexOf('.')
    if (dot >= 0) ident.substring(dot + 1) else ident
  }

  /** Strip a leading `qual.` qualifier when qual ∈ quals (case-insens). */
  def stripQual(ident: String, quals: Set[String]): String = {
    val dot = ident.indexOf('.')
    if (dot > 0 && quals.contains(ident.substring(0, dot).toLowerCase)) ident.substring(dot + 1)
    else ident
  }

  /** Replace identifier tokens, but only when NOT immediately followed by
    * '(' (i.e. skip function-call names). Used for dimension substitution.
    * `skipAliases` also keeps tokens right after AS (aliases, cast types).
    */
  def mapColumnRefs(sql: String, f: String => Option[String],
                    skipAliases: Boolean = false): String = {
    val m = buildMask(sql)
    val ids = identifiers(sql, m, 0, sql.length)
    if (ids.isEmpty) return sql
    val sb = new StringBuilder
    var pos = 0
    for ((tok, s, e) <- ids) {
      sb.append(sql.substring(pos, s))
      if (isCallAt(sql, e) || (skipAliases && followsAs(sql, s))) sb.append(tok)
      else sb.append(f(tok).getOrElse(tok))
      pos = e
    }
    sb.append(sql.substring(pos))
    sb.toString
  }

  /** Replace comment spans with spaces (literals untouched). Needed because
    * the expander reassembles statements onto one line, where a surviving
    * `-- line comment` would swallow the rest of the statement.
    */
  def blankComments(sql: String): String = {
    val n = sql.length
    val m = buildMask(sql)
    val out = sql.toCharArray
    var i = 0
    while (i < n) {
      if (m(i) && (i == 0 || !m(i - 1))) {
        // start of a masked span: blank only if it starts as a comment
        val c = sql.charAt(i)
        if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
          while (i < n && sql.charAt(i) != '\n') { out(i) = ' '; i += 1 }
        } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
          var depth = 0
          var done = false
          while (i < n && !done) {
            if (sql.charAt(i) == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
              out(i) = ' '; out(i + 1) = ' '; i += 2; depth += 1
            } else if (sql.charAt(i) == '*' && i + 1 < n && sql.charAt(i + 1) == '/') {
              out(i) = ' '; out(i + 1) = ' '; i += 2; depth -= 1
              if (depth == 0) done = true
            } else { out(i) = ' '; i += 1 }
          }
        } else {
          // literal/identifier span: skip it whole
          while (i < n && m(i)) i += 1
        }
      } else i += 1
    }
    new String(out)
  }

  /** Split a multi-statement string at top-level ';'. Empty/whitespace-only
    * statements are dropped. (Reference: SplitSqlStatements,
    * yardstick_extension.cpp:358.)
    */
  def splitStatements(sql: String): List[String] = {
    val m = buildMask(sql)
    splitTopLevel(sql, m, ';', 0, sql.length)
      .map { case (s, e) => sql.substring(s, e) }
      .map(_.trim).filter(_.nonEmpty)
  }
}
