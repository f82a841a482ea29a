package graft.syntax

/** Context modifiers inside `AT (...)` clauses.
  * Reference grammar: /root/reference/yardstick-rs/src/sql/measures.rs:1025-1226
  * (nom parsers at_all_global / at_all / at_set / at_where / at_visible,
  * multi-modifier clause at_modifiers_content, chained clauses
  * aggregate_with_at).
  */
sealed trait ContextModifier
object ContextModifier {
  case object AllGlobal extends ContextModifier
  final case class All(dim: String) extends ContextModifier
  final case class SetMod(dim: String, expr: String) extends ContextModifier
  final case class WhereMod(cond: String) extends ContextModifier
  case object Visible extends ContextModifier
}

/** One AGGREGATE(measure) [AT (...)]* call located in query text.
  * @param measureRaw   possibly qualified measure reference, e.g. "o.revenue"
  * @param modifiers    all modifiers, flattened across chained AT clauses,
  *                     in text order (fold applies them right-to-left)
  * @param start,end    byte span of the whole call in the statement text
  * @param paperDefault true for bare-`m` implicit refs: the paper's default
  *                     context ignores the outer WHERE (reference marker
  *                     `/*YARDSTICK_DEFAULT*/`, measures.rs:59, :735-786)
  */
final case class AggCall(
    measureRaw: String,
    modifiers: List[ContextModifier],
    start: Int,
    end: Int,
    paperDefault: Boolean
) {
  // normalize `s . revenue` and `"total_revenue"` forms
  private def cleaned: String =
    measureRaw.replaceAll("\\s*\\.\\s*", ".").trim
      .stripPrefix("\"").stripSuffix("\"")
  def measureName: String = Scan.lastPart(cleaned)
  def qualifier: Option[String] = {
    val dot = cleaned.lastIndexOf('.')
    if (dot > 0) Some(cleaned.substring(0, dot)) else None
  }
}

object AtParser {
  import ContextModifier._
  import Scan.{skipWs, wordAt}

  /** Parse an identifier (possibly qualified) optionally followed by a
    * balanced paren group (function-call dims like MONTH(date)).
    * Returns (token, nextIndex) or null.
    */
  private def expressionOrIdentifier(s: String, i0: Int): (String, Int) = {
    var i = skipWs(s, i0)
    if (i >= s.length || !(s.charAt(i).isLetter || s.charAt(i) == '_')) return null
    val start = i
    while (i < s.length && Scan.isIdentChar(s.charAt(i))) i += 1
    while (i + 1 < s.length && s.charAt(i) == '.' &&
           (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
      i += 1
      while (i < s.length && Scan.isIdentChar(s.charAt(i))) i += 1
    }
    if (Scan.isCallAt(s, i)) {
      val close = Scan.matchParen(s, Scan.buildMask(s), skipWs(s, i))
      if (close > 0) return (s.substring(start, close + 1), close + 1)
    }
    (s.substring(start, i), i)
  }

  private def startsWithModifierKeyword(s: String, i0: Int): Boolean = {
    val i = skipWs(s, i0)
    val rest = s.substring(i).toUpperCase
    rest.startsWith("ALL ") || rest == "ALL" ||
    rest.startsWith("SET ") || rest.startsWith("WHERE ") ||
    rest == "VISIBLE" || rest.startsWith("VISIBLE ")
  }

  /** Parse the content of one AT (...) clause into modifiers.
    * Mirrors at_modifiers_content (measures.rs:1137-1183) including its
    * quirks: after ALL, extra space-separated dims are absorbed until a
    * modifier keyword; SET's value expression consumes the remainder of the
    * clause content.
    */
  def parseModifiers(contentRaw: String): List[ContextModifier] = {
    val s = contentRaw.trim
    val out = scala.collection.mutable.ListBuffer[ContextModifier]()
    var i = 0
    var stuck = false
    while (i < s.length && !stuck) {
      i = skipWs(s, i)
      if (i >= s.length) stuck = true
      else if (wordAt(s, i, "ALL")) {
        val after = skipWs(s, i + 3)
        if (after >= s.length) { out += AllGlobal; i = s.length }
        else {
          expressionOrIdentifier(s, after) match {
            case null => out += AllGlobal; i = after
            case (dim, next) =>
              out += All(dim)
              i = next
              // absorb additional space-separated dims
              var more = true
              while (more) {
                val j = skipWs(s, i)
                if (j >= s.length || startsWithModifierKeyword(s, j)) more = false
                else expressionOrIdentifier(s, j) match {
                  case null => more = false
                  case (d2, n2) => out += All(d2); i = n2
                }
              }
          }
        }
      } else if (wordAt(s, i, "SET")) {
        val after = skipWs(s, i + 3)
        expressionOrIdentifier(s, after) match {
          case null => stuck = true
          case (dim, next) =>
            val eq = skipWs(s, next)
            if (eq < s.length && s.charAt(eq) == '=') {
              val expr = s.substring(eq + 1).trim
              out += SetMod(dim, expr)
              i = s.length
            } else stuck = true
        }
      } else if (wordAt(s, i, "WHERE")) {
        val cond = s.substring(i + 5).trim
        out += WhereMod(cond)
        i = s.length
      } else if (wordAt(s, i, "VISIBLE")) {
        out += Visible
        i = i + 7
      } else stuck = true
    }
    out.toList
  }

  /** Extract all `AGGREGATE(measure) [AT (...)]*` calls in sql(from,until),
    * outside literals/comments, with byte spans including all chained AT
    * clauses. (Reference: extract_all_aggregate_calls, measures.rs:1408-1430.)
    */
  def extractCalls(sql: String, mask: Array[Boolean], from: Int, until: Int): List[AggCall] = {
    val out = scala.collection.mutable.ListBuffer[AggCall]()
    var i = from
    while (i < until) {
      if (!mask(i) && wordAt(sql, i, "AGGREGATE") &&
          (i == 0 || !Scan.isIdentChar(sql.charAt(i - 1)))) {
        val j = skipWs(sql, i + 9)
        val close = if (sql.startsWith("(", j)) Scan.matchParen(sql, mask, j) else -1
        if (close > 0 && close < until) {
          val (mods, end) = chaseAt(sql, mask, close + 1, until)
          out += AggCall(sql.substring(j + 1, close).trim, mods, i, end, paperDefault = false)
          i = end
        } else i += 9
      } else i += 1
    }
    out.toList
  }

  /** The modifiers of the `AT (...)` clauses chained from offset `from`
    * (flattened, in text order) and the end of the last clause — `from`
    * itself when no clause follows.
    */
  def chaseAt(sql: String, mask: Array[Boolean], from: Int, until: Int)
      : (List[ContextModifier], Int) = {
    val mods = scala.collection.mutable.ListBuffer[ContextModifier]()
    var end = from
    var chasing = true
    while (chasing) {
      val k = skipWs(sql, end)
      val p = skipWs(sql, k + 2)
      val close =
        if (k < until && wordAt(sql, k, "AT") && !mask(k) && p < until && sql.startsWith("(", p))
          Scan.matchParen(sql, mask, p)
        else -1
      chasing = close > 0 && close < until
      if (chasing) {
        mods ++= parseModifiers(sql.substring(p + 1, close))
        end = close + 1
      }
    }
    (mods.toList, end)
  }
}
