package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.functions.{col, count_distinct, expr}

import graft.plans.SplitHolisticDistinct

/** Equality fence and firing gates for `SplitHolisticDistinct`: every
  * shape the rule rewrites returns exactly the rows of the same SQL on a
  * fresh session (`newSession()` carries no graft optimizer rules), and
  * the shapes it must leave alone keep their single aggregate.
  */
class HolisticSplitSuite extends SparkSpec {

  // a session with the rule installed, and one without any graft rule
  private lazy val withRule: SparkSession = { GraftEngine(spark); register(spark) }
  private lazy val plain: SparkSession = register(spark.newSession())

  // hs_t: 200 rows over a Range leaf, with NULL string keys and a DOUBLE
  // key cycling through -0.0, 0.0, NaN and NULL; hs_u: a small table to
  // join it with
  private def register(s: SparkSession): SparkSession = {
    s.sql(
      """CREATE OR REPLACE TEMP VIEW hs_t AS
        |SELECT CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id % 5 AS STRING) END AS k,
        |       CAST(id % 13 AS INT) AS a,
        |       CAST(id % 17 AS DOUBLE) * 1.5 AS x,
        |       CASE id % 4 WHEN 0 THEN CAST('-0.0' AS DOUBLE) WHEN 1 THEN 0.0D
        |                   WHEN 2 THEN CAST('NaN' AS DOUBLE) ELSE NULL END AS d,
        |       id % 3 = 0 AS f
        |FROM range(200)""".stripMargin)
    s.sql("CREATE OR REPLACE TEMP VIEW hs_u AS SELECT CAST(id % 5 AS STRING) AS k, id AS y FROM range(20)")
    s
  }

  private def result(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  private def splits(plan: LogicalPlan): Boolean = plan.exists(_.isInstanceOf[Join])

  /** The rule fires on `sql` in the graft session, and the rows equal the
    * plain session's.
    */
  private def assertSplitEqual(sql: String): Seq[String] = {
    val got = result(withRule, sql)
    assert(splits(withRule.sql(sql).queryExecution.optimizedPlan), s"rule did not fire:\n$sql")
    assert(!splits(plain.sql(sql).queryExecution.optimizedPlan), s"plain session split:\n$sql")
    val want = result(plain, sql)
    assert(got == want, s"split changed the result of:\n$sql\nwant=$want\ngot=$got")
    got
  }

  private def aggregates(plan: LogicalPlan): Int = plan.collect { case a: Aggregate => a }.size

  /** Neither the graft session's optimizer nor the rule on its own moves
    * the plain session's optimized plan of `sql`.
    */
  private def assertNoSplit(sql: String): Unit = {
    val optimized = plain.sql(sql).queryExecution.optimizedPlan
    assert(SplitHolisticDistinct(optimized) fastEquals optimized, s"rule fired on:\n$sql")
    assert(aggregates(withRule.sql(sql).queryExecution.optimizedPlan) == aggregates(optimized),
      s"the graft session split:\n$sql")
  }

  test("grouped, with NULL keys and a computed key: equal rows") {
    val rows = assertSplitEqual(
      "SELECT k, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY k")
    assert(rows.exists(_.startsWith("null|")), "the NULL key group is missing")
    assertSplitEqual(
      "SELECT upper(k) AS uk, COUNT(DISTINCT a) + 1 AS n, ROUND(MEDIAN(x), 2) AS med, SUM(a) AS s " +
        "FROM hs_t WHERE a > 2 GROUP BY upper(k)")
  }

  test("global aggregate, and empty input still gives one row") {
    assertSplitEqual("SELECT COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t")
    val empty = assertSplitEqual(
      "SELECT COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t WHERE x > 1000")
    assert(empty == Seq("0|null"))
  }

  test("DOUBLE key holding -0.0, 0.0 and NaN pairs as it groups") {
    // four reduce partitions, not AQE's one, so a key hashed two ways
    // would show as two groups
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val rows = assertSplitEqual(
        "SELECT d, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY d")
      assert(rows.size == 3, s"-0.0/0.0, NaN and NULL are three groups: $rows")
    }
  }

  test("FILTER on the other side, and one distinct group of two functions") {
    assertSplitEqual(
      "SELECT k, COUNT(DISTINCT a) AS n, SUM(x) FILTER (WHERE f) AS sf, MEDIAN(x) AS med " +
        "FROM hs_t GROUP BY k")
    assertSplitEqual(
      "SELECT k, COUNT(DISTINCT a) AS n, SUM(DISTINCT a) AS sd, MEDIAN(x) AS med FROM hs_t GROUP BY k")
  }

  test("mode and collect_list as the holistic aggregate") {
    assertSplitEqual(
      "SELECT k, COUNT(DISTINCT a) AS n, mode(a, true) AS m FROM hs_t GROUP BY k")
    assertSplitEqual(
      "SELECT k, COUNT(DISTINCT a) AS n, array_sort(collect_list(x)) AS xs FROM hs_t GROUP BY k")
  }

  test("ROLLUP: the Expand under the Aggregate feeds the shared repartition") {
    assertSplitEqual(
      "SELECT k, a % 2 AS p, GROUPING(k) AS g, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med " +
        "FROM hs_t GROUP BY ROLLUP(k, a % 2)")
  }

  /** The names of the columns the split's shared repartition is keyed on. */
  private def sharedKeys(sql: String): Seq[String] =
    withRule.sql(sql).queryExecution.optimizedPlan.collectFirst {
      case r: RepartitionByExpression => r.partitionExpressions.map { case a: Attribute => a.name }
    }.getOrElse(fail(s"no shared repartition:\n$sql"))

  test("input past AQE's minimum partition size is also partitioned on the distinct value") {
    val grouped = "SELECT k, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY k"
    // hs_t is estimated far below the 1 MB default: the keys alone
    assert(sharedKeys(grouped).forall(_ == "__graft_key"), sharedKeys(grouped))
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      assert(sharedKeys(grouped).last == "a", sharedKeys(grouped))
      assertSplitEqual(grouped)
      assertSplitEqual(
        "SELECT k, COUNT(DISTINCT a) AS n, SUM(DISTINCT a) AS sd, mode(a, true) AS m, " +
          "SUM(x) FILTER (WHERE f) AS sf FROM hs_t GROUP BY k")
      assertSplitEqual(
        "SELECT k, a % 2 AS p, GROUPING(k) AS g, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med " +
          "FROM hs_t GROUP BY ROLLUP(k, a % 2)")
      withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
        // a DOUBLE key, and a DOUBLE distinct value, holding -0.0, 0.0 and NaN
        val byD = assertSplitEqual(
          "SELECT d, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY d")
        assert(byD.size == 3, s"-0.0/0.0, NaN and NULL are three groups: $byD")
        assertSplitEqual("SELECT k, COUNT(DISTINCT d) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY k")
      }
    }
  }

  test("the rule leaves ineligible shapes alone") {
    // a non-deterministic child
    assertNoSplit(
      "SELECT k, COUNT(DISTINCT a) AS n, MEDIAN(y) AS med " +
        "FROM (SELECT k, a, x + rand(7) AS y FROM hs_t) GROUP BY k")
    // a Join in the child
    assertNoSplit(
      "SELECT t.k, COUNT(DISTINCT t.a) AS n, MEDIAN(u.y) AS med " +
        "FROM hs_t t JOIN hs_u u ON t.k = u.k GROUP BY t.k")
    // two distinct groups (Spark's RewriteDistinctAggregates expands them)
    assertNoSplit(
      "SELECT k, COUNT(DISTINCT a) AS n, COUNT(DISTINCT x) AS nx, MEDIAN(x) AS med FROM hs_t GROUP BY k")
    // a FILTER on the distinct aggregate
    assertNoSplit(
      "SELECT k, COUNT(DISTINCT a) FILTER (WHERE f) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY k")
    // m_countdistinct and m_median alone
    assertNoSplit("SELECT k, COUNT(DISTINCT a) AS n FROM hs_t GROUP BY k")
    assertNoSplit("SELECT k, MEDIAN(x) AS med FROM hs_t GROUP BY k")
    // a distinct aggregate next to fixed-width buffers only
    assertNoSplit("SELECT k, COUNT(DISTINCT a) AS n, SUM(x) AS s FROM hs_t GROUP BY k")
  }

  test("a streaming plan is left alone") {
    // percentile, not median: the analyzed plan still holds median's
    // runtime-replaceable form, which only the optimizer turns into one
    val batch = withRule.range(10).selectExpr("id % 2 AS k", "id AS a", "CAST(id AS DOUBLE) AS x")
      .groupBy("k").agg(count_distinct(col("a")), expr("percentile(x, 0.5)"))
    assert(splits(SplitHolisticDistinct(batch.queryExecution.analyzed)),
      "the batch twin must split, or the streaming check shows nothing")
    val stream = withRule.readStream.format("rate").load()
      .selectExpr("value % 2 AS k", "value AS a", "CAST(value AS DOUBLE) AS x")
      .groupBy("k").agg(count_distinct(col("a")), expr("percentile(x, 0.5)"))
    val analyzed = stream.queryExecution.analyzed
    assert(analyzed.isStreaming)
    assert(SplitHolisticDistinct(analyzed) eq analyzed)
  }

  test("running the rule twice gives the plan of running it once") {
    for (sql <- Seq(
      "SELECT k, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY k",
      "SELECT COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t",
      "SELECT k, a % 2 AS p, COUNT(DISTINCT a) AS n, MEDIAN(x) AS med FROM hs_t GROUP BY ROLLUP(k, a % 2)")) {
      val optimized = plain.sql(sql).queryExecution.optimizedPlan
      val once = SplitHolisticDistinct(optimized)
      assert(splits(once) && !splits(optimized), s"rule did not fire:\n$sql")
      assert(SplitHolisticDistinct(once) fastEquals once, s"second run moved the plan:\n$sql")
      assert(once.output == optimized.output, s"output attributes changed:\n$sql")
    }
  }
}
