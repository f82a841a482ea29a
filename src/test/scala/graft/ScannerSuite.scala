package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.syntax.{Scan, SqlClauses}

/** The shared SQL-text scanners of graft.syntax on shapes the engine
  * suites do not reach. Needs no Spark session.
  */
class ScannerSuite extends AnyFunSuite {

  test("WITH lists: quoted names, column lists, RECURSIVE only as a keyword") {
    // sql -> (recursive, (name, header, body) per CTE, main query)
    val cases = Seq(
      """WITH "my cte" AS (SELECT 1) SELECT * FROM "my cte"""" ->
        (false, List(("\"my cte\"", "\"my cte\"", "SELECT 1")), """SELECT * FROM "my cte""""),
      "WITH t (a, b) AS (SELECT 1, 2), u AS (SELECT a FROM t) SELECT * FROM u" ->
        (false, List(("t", "t (a, b)", "SELECT 1, 2"), ("u", "u", "SELECT a FROM t")), "SELECT * FROM u"),
      "WITH recursive_t AS (SELECT 1) SELECT * FROM recursive_t" ->
        (false, List(("recursive_t", "recursive_t", "SELECT 1")), "SELECT * FROM recursive_t"),
      "WITH /* note */ RECURSIVE r AS (SELECT 1) SELECT * FROM r" ->
        (true, List(("r", "r", "SELECT 1")), "SELECT * FROM r"))
    for ((sql, (recursive, ctes, main)) <- cases) {
      val w = SqlClauses.splitWith(sql).getOrElse(fail(s"no WITH list in: $sql"))
      assert(w.recursive == recursive, sql)
      assert(w.ctes.map(c => (c.name, c.header, c.body)) == ctes, sql)
      assert(sql.substring(w.mainStart) == main, sql)
    }
    for (sql <- Seq("SELECT 1", "WITH t SELECT 1", "WITHIN t AS (SELECT 1) SELECT 1"))
      assert(SqlClauses.splitWith(sql).isEmpty, sql)
  }

  test("set operators keep their ALL/DISTINCT modifier; the chain's tail splits off") {
    val (branches, tail) = SqlClauses.splitSetOp(
      "SELECT a FROM x INTERSECT ALL SELECT a FROM y UNION DISTINCT SELECT a FROM z ORDER BY a LIMIT 3")
    assert(branches == List("" -> "SELECT a FROM x", "INTERSECT ALL" -> "SELECT a FROM y",
      "UNION DISTINCT" -> "SELECT a FROM z"))
    assert(tail == "ORDER BY a LIMIT 3")
  }

  test("FROM items: derived tables have no name; USING joins and table functions") {
    // from -> (name, alias, text of the item's span)
    val cases = Seq(
      "v s JOIN (SELECT k FROM t) d USING (k) LEFT JOIN db.w AS o ON s.k = o.k, range(3) r" -> List(
        (Some("v"), "s", "v s"), (None, "d", "(SELECT k FROM t) d"),
        (Some("db.w"), "o", "db.w AS o"), (Some("range"), "r", "range(3) r")),
      "a JOIN b USING (k)" -> List((Some("a"), "a", "a"), (Some("b"), "b", "b")))
    for ((from, want) <- cases)
      assert(SqlClauses.fromItems(from).map(i => (i.name, i.alias, from.substring(i.start, i.end))) == want, from)
  }

  test("a parenthesized body unwraps only when the parens span all of it") {
    val cases = Seq(
      " (SELECT (1)) " -> Some("SELECT (1)"),
      "((SELECT 1))" -> Some("(SELECT 1)"),
      "(')')" -> Some("')'"),
      "(SELECT 1) x" -> None,
      "(SELECT 1) UNION (SELECT 2)" -> None)
    for ((text, want) <- cases) assert(Scan.unwrapParens(text) == want, text)
  }
}
