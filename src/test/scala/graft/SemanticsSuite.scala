package graft

import graft.planner.GraftException

/** Further golden tests: ad-hoc expression dimensions, fan-out immunity,
  * the warning system, window measures, and batch/temp-view semantics.
  * Goldens from /root/reference/test/sql/measures.test (line refs inline).
  */
class SemanticsSuite extends SparkSpec {

  lazy val engine: GraftEngine = {
    val e = GraftEngine(spark)
    e.sql(
      """CREATE OR REPLACE TEMPORARY VIEW daily_orders AS
        |SELECT * FROM VALUES
        |  (DATE '2023-01-15', 100.0), (DATE '2023-01-20', 150.0),
        |  (DATE '2023-02-10', 200.0), (DATE '2023-02-25', 120.0),
        |  (DATE '2023-03-05', 180.0), (DATE '2023-03-15', 90.0)
        |AS t(order_date, amount)""".stripMargin)
    e.sql("CREATE VIEW daily_orders_v AS SELECT order_date, SUM(amount) AS MEASURE revenue FROM daily_orders")
    e
  }

  // measures.test:2037-2060 (SET/ALL with expression dimensions)
  test("ad-hoc expression dims: SET MONTH(date) = 2") {
    checkGolden(engine.sql(
      """SELECT MONTH(order_date) AS m, AGGREGATE(revenue) AS rev,
        |AGGREGATE(revenue) AT (SET MONTH(order_date) = 2) AS feb_revenue
        |FROM daily_orders_v""".stripMargin),
      """1	250	320
        |2	320	320
        |3	270	320""".stripMargin)
  }

  test("ad-hoc expression dims: ALL MONTH(date)") {
    checkGolden(engine.sql(
      """SELECT MONTH(order_date) AS m, AGGREGATE(revenue) AS rev,
        |AGGREGATE(revenue) AT (ALL MONTH(order_date)) AS total
        |FROM daily_orders_v""".stripMargin),
      """1	250	840
        |2	320	840
        |3	270	840""".stripMargin)
  }

  // measures.test:2026-2033 (combined, re-pinned: no warning)
  test("ALL expr + SET expr combined with matching WHERE") {
    checkGolden(engine.sql(
      """SELECT MONTH(order_date) AS m,
        |AGGREGATE(revenue) AT (ALL MONTH(order_date) SET MONTH(order_date) = 2) AS feb_revenue
        |FROM daily_orders_v
        |WHERE MONTH(order_date) = 2
        |GROUP BY MONTH(order_date)""".stripMargin),
      "2\t320")
  }

  // measures.test:2061-2085 (view dim alias defined by expression)
  test("view-level expression dimension aliases") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW monthly_sales AS
        |SELECT * FROM VALUES
        |  (DATE '2023-01-05', 'US', 100.0), (DATE '2023-01-12', 'EU', 50.0),
        |  (DATE '2023-02-03', 'US', 200.0), (DATE '2023-02-20', 'EU', 20.0)
        |AS t(order_date, region, amount)""".stripMargin)
    engine.sql(
      """CREATE VIEW monthly_sales_v AS
        |SELECT DATE_TRUNC('month', order_date) AS month, region, SUM(amount) AS MEASURE revenue
        |FROM monthly_sales
        |GROUP BY DATE_TRUNC('month', order_date), region""".stripMargin)
    checkGolden(engine.sql(
      """SELECT month, region, AGGREGATE(revenue) AS rev, AGGREGATE(revenue) AT (ALL region) AS month_total
        |FROM monthly_sales_v""".stripMargin),
      """2023-01-01 00:00:00.0	EU	50	150
        |2023-01-01 00:00:00.0	US	100	150
        |2023-02-01 00:00:00.0	EU	20	220
        |2023-02-01 00:00:00.0	US	200	220""".stripMargin)
  }

  // measures.test:2145-2240 (join fan-out immunity)
  test("fan-out immunity: 1:N join does not inflate measures") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW fanout_customers AS
        |SELECT * FROM VALUES (1, 'Alice', 30), (2, 'Bob', 25), (3, 'Carol', 40)
        |AS t(cust_id, name, age)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW fanout_orders AS
        |SELECT * FROM VALUES
        |  (101, 1, 'Widget', 100.0), (102, 1, 'Gadget', 200.0), (103, 1, 'Doohickey', 50.0),
        |  (104, 2, 'Widget', 75.0), (105, 3, 'Gadget', 300.0), (106, 3, 'Widget', 150.0)
        |AS t(order_id, cust_id, product, amount)""".stripMargin)
    engine.sql(
      """CREATE VIEW fanout_customers_v AS
        |SELECT *, AVG(age) AS MEASURE avg_cust_age, SUM(age) AS MEASURE sum_age,
        |COUNT(age) AS MEASURE cust_count
        |FROM fanout_customers""".stripMargin)
    checkGolden(engine.sql(
      """SELECT AGGREGATE(avg_cust_age) AS a FROM fanout_customers_v c
        |JOIN fanout_orders o ON c.cust_id = o.cust_id""".stripMargin),
      "31.666667")
    checkGolden(engine.sql(
      """SELECT AGGREGATE(sum_age) AS s FROM fanout_customers_v c
        |JOIN fanout_orders o ON c.cust_id = o.cust_id""".stripMargin),
      "95")
    checkGolden(engine.sql(
      """SELECT AGGREGATE(cust_count) AS n FROM fanout_customers_v c
        |JOIN fanout_orders o ON c.cust_id = o.cust_id""".stripMargin),
      "3")
  }

  // measures.test:2203-2231 (grouped fan-out; COUNT(*) counts join rows,
  // the measure does not)
  test("fan-out immunity: grouped join") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW fanout_tiered_custs AS
        |SELECT * FROM VALUES (1, 'gold', 30), (2, 'gold', 25), (3, 'silver', 40)
        |AS t(cust_id, tier, age)""".stripMargin)
    engine.sql("CREATE VIEW fanout_tiered_custs_v AS SELECT *, AVG(age) AS MEASURE avg_tier_age FROM fanout_tiered_custs")
    checkGolden(engine.sql(
      """SELECT t.tier, COUNT(*) AS order_rows, AGGREGATE(avg_tier_age) AS a
        |FROM fanout_tiered_custs_v t
        |JOIN fanout_orders o ON t.cust_id = o.cust_id
        |GROUP BY t.tier""".stripMargin),
      """gold	4	27.5
        |silver	2	40""".stripMargin)
  }

  // measures.test:727-744 (warning: AT (ALL dim) over filtered ungrouped dim)
  test("warning system and warnings_as_errors") {
    engine.sql("SET warnings_as_errors = false")
    engine.sql(
      """SELECT MONTH(order_date) AS m,
        |AGGREGATE(revenue) AT (ALL MONTH(order_date)) AS total
        |FROM daily_orders_v WHERE YEAR(order_date) = 2023 GROUP BY MONTH(order_date)""".stripMargin)
      .collect()
    assert(engine.lastWarnings.nonEmpty, "expected a dropped-filter warning")

    engine.sql("SET warnings_as_errors = true")
    val e = intercept[GraftException] {
      engine.sql(
        """SELECT MONTH(order_date) AS m,
          |AGGREGATE(revenue) AT (ALL MONTH(order_date)) AS total
          |FROM daily_orders_v WHERE YEAR(order_date) = 2023 GROUP BY MONTH(order_date)""".stripMargin)
    }
    assert(e.getMessage.contains("Warning escalated"))
    engine.sql("SET warnings_as_errors = false")

    // re-pinned via SET: no warning (measures.test:839-849 passes under
    // warnings_as_errors)
    engine.sql("SET warnings_as_errors = true")
    engine.sql(
      """SELECT MONTH(order_date) AS m,
        |AGGREGATE(revenue) AT (ALL MONTH(order_date) SET YEAR(order_date) = 2023) AS total
        |FROM daily_orders_v WHERE YEAR(order_date) = 2023 GROUP BY MONTH(order_date)""".stripMargin)
      .collect()
    engine.sql("SET warnings_as_errors = false")
  }

  // measures.test:2965-3035 + LIMITATIONS.md:24-45 (window measures)
  test("window measure: single-valued per context, error otherwise") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW wm_sales AS
        |SELECT * FROM VALUES
        |  (2022, 'US', 100.0), (2022, 'EU', 50.0), (2023, 'US', 150.0), (2023, 'EU', 75.0)
        |AS t(year, region, amount)""".stripMargin)
    engine.sql(
      """CREATE VIEW wm_v AS
        |SELECT year, region,
        |  SUM(amount) OVER (PARTITION BY year) AS MEASURE year_amt
        |FROM wm_sales""".stripMargin)
    // single-valued per year: OK
    checkGolden(engine.sql("SELECT year, AGGREGATE(year_amt) AS ya FROM wm_v ORDER BY year"),
      """2022	150
        |2023	225""".stripMargin)
    // per-region context: two distinct window values per region -> error
    val e = intercept[Exception] {
      engine.sql("SELECT region, AGGREGATE(year_amt) AS ya FROM wm_v").collect()
    }
    assert(e.getMessage.toLowerCase.contains("not single-valued"),
      s"unexpected error: ${e.getMessage}")
  }

  // temp measure views live only inside one batch; survivors must shadow a
  // permanent measure view, which is restored afterwards
  // (yardstick_extension.cpp:1498-1754; measures.test batch_shadow_v)
  test("batch TEMP measure views shadow and restore") {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW batch_src AS SELECT * FROM VALUES (1, 5.0), (1, 7.0) AS t(k, v)")
    engine.sql("CREATE VIEW batch_tmp_v AS SELECT k, SUM(v) AS MEASURE sv FROM batch_src")
    engine.sql("DROP TABLE IF EXISTS batch_shadow_result")
    engine.executeBatch(
      """CREATE TEMPORARY VIEW batch_tmp_v AS SELECT k, SUM(v * 10) AS MEASURE sv FROM batch_src;
        |CREATE TABLE batch_shadow_result AS SELECT k, AGGREGATE(sv) AS sv FROM batch_tmp_v""".stripMargin)
    // temp (x10) definition used inside the batch, materialized via CTAS
    checkGolden(engine.sql("SELECT k, sv FROM batch_shadow_result"), "1\t120")
    // permanent definition restored afterwards
    checkGolden(engine.sql("SELECT k, AGGREGATE(sv) AS sv FROM batch_tmp_v"), "1\t12")
    engine.sql("DROP TABLE batch_shadow_result")

    // plain SELECT consumption of a temp measure view is an error (the
    // reference defers SELECT execution past the temp view's lifetime)
    val e = intercept[GraftException] {
      engine.executeBatch(
        """CREATE TEMPORARY VIEW batch_orphan_v AS SELECT k, SUM(v) AS MEASURE ov FROM batch_src;
          |SELECT k, AGGREGATE(ov) AS ov FROM batch_orphan_v""".stripMargin)
    }
    assert(e.getMessage.contains("TEMPORARY AS MEASURE"))
    assert(!engine.catalog.contains("batch_orphan_v"))
  }

  // failed batch restores the catalog snapshot
  test("failed batch restores measure catalog") {
    val before = engine.catalog.snapshot().keySet
    intercept[Exception] {
      engine.executeBatch(
        """CREATE VIEW rollback_v AS SELECT k, SUM(v) AS MEASURE rv FROM batch_src;
          |SELECT definitely_not_a_column FROM batch_src""".stripMargin)
    }
    assert(engine.catalog.snapshot().keySet == before, "catalog should be restored")
  }

  // AT (WHERE) with complex conditions (measures.test:1543-1565)
  test("AT (WHERE) with AND/OR conditions") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW cw_sales AS
        |SELECT * FROM VALUES
        |  (2022, 'US', 100.0), (2022, 'EU', 50.0), (2023, 'US', 150.0), (2023, 'EU', 75.0)
        |AS t(year, region, amount)""".stripMargin)
    engine.sql("CREATE VIEW cw_v AS SELECT year, region, SUM(amount) AS MEASURE revenue FROM cw_sales")
    checkGolden(engine.sql(
      "SELECT year, region, AGGREGATE(revenue) AT (WHERE year = 2023 AND region = 'US') AS us_2023 FROM cw_v"),
      """2022	EU	150
        |2022	US	150
        |2023	EU	150
        |2023	US	150""".stripMargin)
    checkGolden(engine.sql(
      "SELECT year, region, AGGREGATE(revenue) AT (WHERE region = 'US' OR year = 2022) AS filtered FROM cw_v"),
      """2022	EU	300
        |2022	US	300
        |2023	EU	300
        |2023	US	300""".stripMargin)
  }

  // numeric comparison in AT (WHERE) (measures.test:1830-1840)
  test("AT (WHERE) numeric comparison") {
    checkGolden(engine.sql(
      "SELECT year, region, AGGREGATE(revenue) AT (WHERE year > 2022) AS recent FROM cw_v"),
      """2022	EU	225
        |2022	US	225
        |2023	EU	225
        |2023	US	225""".stripMargin)
  }

  // QUALIFY is rewritten (predicate hoisted over the nested result as a
  // hidden column, filtered, projected away) and composes with measure
  // expansion — the predicate sees measure outputs as plain columns
  test("QUALIFY in a measure query filters on a window over measure outputs") {
    checkGolden(engine.sql(
      "SELECT year, region, AGGREGATE(revenue) AS rev FROM cw_v " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY year ORDER BY rev DESC, region) = 1 ORDER BY year"),
      """2022	US	100
        |2023	US	150""".stripMargin)
  }

  test("QUALIFY on a measure-free passthrough query") {
    checkGolden(engine.sql(
      "SELECT year, region, amount FROM cw_sales " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY region ORDER BY amount DESC) = 1 ORDER BY region"),
      """2023	EU	75
        |2023	US	150""".stripMargin)
  }

  // row-level WHERE (Listing 12) with SELECT *: the star must project only
  // the base relation, not the internal __rf frame columns
  test("row-level WHERE with SELECT * keeps the base schema") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW rl_rows AS
        |SELECT * FROM VALUES (1, 'a', 10.0), (2, 'a', 90.0), (3, 'b', 30.0), (4, 'b', 50.0)
        |AS t(id, grp, amount)""".stripMargin)
    engine.sql("CREATE VIEW rl_v AS SELECT id, grp, amount, AVG(amount) AS MEASURE avg_amt FROM rl_rows")
    val df = engine.sql(
      "SELECT * FROM rl_v o WHERE o.amount > o.avg_amt AT (WHERE grp = o.grp) ORDER BY id")
    // star = the base relation's columns (measure placeholders are not rows)
    assert(df.columns.toSeq == Seq("id", "grp", "amount"),
      s"star leaked internal columns: ${df.columns.mkString(",")}")
    assert(df.select("id").collect().map(_.getInt(0)).toSeq == Seq(2, 4))
  }

  // a CTE that shadows a measure-view name must win over the catalog entry
  test("CTE shadowing a measure view name reads the CTE") {
    val df = engine.sql(
      """WITH cw_v AS (SELECT 42 AS answer)
        |SELECT answer FROM cw_v""".stripMargin)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(42))
  }

  // batch failure: a temp measure view that shadowed a permanent one is
  // rolled back AND the permanent view's Spark temp view is re-registered
  test("failed batch restores a shadowed permanent measure view") {
    intercept[Exception](engine.sql(
      """CREATE TEMP VIEW cw_v AS SELECT year, SUM(amount) AS MEASURE shadow_rev FROM cw_sales;
        |SELECT no_such_column FROM nowhere;""".stripMargin))
    // the permanent cw_v must still answer measure queries
    checkGolden(engine.sql(
      "SELECT year, AGGREGATE(revenue) AS rev FROM cw_v GROUP BY year ORDER BY year"),
      """2022	150
        |2023	225""".stripMargin)
  }

  // DuckDB aggregate shims: PRODUCT / ENTROPY / ordered STRING_AGG / LIST
  // (corpus fan-out battery, measures.test:2420-2560)
  test("PRODUCT, ENTROPY, ordered STRING_AGG and LIST shims") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW shim_rows AS
        |SELECT * FROM VALUES (25), (30), (35), (40) AS t(age)""".stripMargin)
    val df = engine.sql(
      """SELECT PRODUCT(age) AS prod, ENTROPY(age) AS ent,
        |STRING_AGG(CAST(age AS STRING), ',' ORDER BY age DESC) AS joined,
        |LIST(age ORDER BY age) AS ages
        |FROM shim_rows""".stripMargin)
    val r = df.collect().head
    assert(math.abs(r.getDouble(0) - 1050000.0) < 1e-3, s"product = ${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 2.0) < 1e-9, s"entropy = ${r.getDouble(1)}")
    assert(r.getString(2) == "40,35,30,25")
    assert(r.getSeq[Int](3) == Seq(25, 30, 35, 40))
  }

  // AGGREGATE in the outer WHERE of a GROUPED query: base rows are filtered
  // through the measure predicate first, then grouped (reference:
  // expand_aggregate_with_at WHERE-position calls, measures.rs:7110-7592)
  test("AGGREGATE in WHERE of a grouped query filters rows before grouping") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW gw_rows AS
        |SELECT * FROM VALUES (1, 'a', 10.0), (2, 'a', 90.0), (3, 'b', 30.0), (4, 'b', 50.0)
        |AS t(id, grp, amount)""".stripMargin)
    engine.sql("CREATE VIEW gw_v AS SELECT id, grp, amount, AVG(amount) AS MEASURE avg_amt FROM gw_rows")
    // per-group averages: a=50, b=40 -> rows 2 (90>50) and 4 (50>40) survive
    checkGolden(engine.sql(
      """SELECT grp, COUNT(*) AS n, SUM(amount) AS total
        |FROM gw_v o
        |WHERE o.amount > o.avg_amt AT (WHERE grp = o.grp)
        |GROUP BY grp ORDER BY grp""".stripMargin),
      """a	1	90
        |b	1	50""".stripMargin)
    // a measure item evaluates in the VISIBLE (filtered) context
    checkGolden(engine.sql(
      """SELECT grp, AGGREGATE(avg_amt) AS filtered_avg
        |FROM gw_v o
        |WHERE o.amount > o.avg_amt AT (WHERE grp = o.grp)
        |GROUP BY grp ORDER BY grp""".stripMargin),
      """a	90
        |b	50""".stripMargin)
    // AT (ALL) still sees the UNFILTERED base, like any plain WHERE
    checkGolden(engine.sql(
      """SELECT grp, AGGREGATE(avg_amt) AT (ALL) AS unfiltered_avg
        |FROM gw_v o
        |WHERE o.amount > o.avg_amt AT (WHERE grp = o.grp)
        |GROUP BY grp ORDER BY grp""".stripMargin),
      """a	45
        |b	45""".stripMargin)
  }

  // multi-fact WHERE measure predicate: each call-bearing conjunct filters
  // its own view's BASE rows through a per-view filtered base before the
  // join (reference handles WHERE-position calls uniformly,
  // measures.rs:7110-7592)
  test("multi-fact WHERE measure predicate filters one view's base pre-join") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mw_sales AS
        |SELECT * FROM VALUES
        |  (2022, 'a', 10.0), (2022, 'a', 90.0), (2022, 'b', 30.0), (2022, 'b', 50.0),
        |  (2023, 'a', 40.0), (2023, 'a', 60.0), (2024, 'c', 20.0)
        |AS t(yr, grp, amount)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mw_targets AS
        |SELECT * FROM VALUES (2022, 5.0), (2023, 7.0), (2024, 9.0) AS t(yr, target)""".stripMargin)
    engine.sql(
      """CREATE VIEW mw_sales_v AS SELECT yr, grp, amount,
        |AVG(amount) AS MEASURE avg_amt, SUM(amount) AS MEASURE total FROM mw_sales""".stripMargin)
    engine.sql("CREATE VIEW mw_tgt_v AS SELECT yr, SUM(target) AS MEASURE t_sum FROM mw_targets")
    // per-(yr,grp) averages: 2022a=50 -> 90 survives; 2022b=40 -> 50
    // survives; 2023a=50 -> 60 survives; 2024c=20 -> nothing survives, so
    // 2024 must vanish from the JOIN even though mw_tgt_v has a 2024 row
    checkGolden(engine.sql(
      """SELECT s.yr, AGGREGATE(total) AS tot, AGGREGATE(t_sum) AS tgt
        |FROM mw_sales_v s JOIN mw_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE grp = s.grp AND yr = s.yr)
        |GROUP BY s.yr ORDER BY s.yr""".stripMargin),
      """2022	140	5
        |2023	60	7""".stripMargin)
    // AT (ALL) still reads the UNFILTERED base, like any plain WHERE
    checkGolden(engine.sql(
      """SELECT s.yr, AGGREGATE(total) AT (ALL) AS grand
        |FROM mw_sales_v s JOIN mw_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE grp = s.grp AND yr = s.yr)
        |GROUP BY s.yr ORDER BY s.yr""".stripMargin),
      """2022	300
        |2023	300""".stripMargin)
    // a plain conjunct rides along at join level and in the visible frames
    checkGolden(engine.sql(
      """SELECT s.yr, AGGREGATE(total) AS tot
        |FROM mw_sales_v s JOIN mw_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE grp = s.grp AND yr = s.yr) AND s.grp = 'a'
        |GROUP BY s.yr ORDER BY s.yr""".stripMargin),
      """2022	90
        |2023	60""".stripMargin)
    // a conjunct mixing measures of two views is rejected loudly
    val e = intercept[GraftException](engine.sql(
      """SELECT s.yr FROM mw_sales_v s JOIN mw_tgt_v t ON s.yr = t.yr
        |WHERE s.total AT (ALL) > t.t_sum AT (ALL) GROUP BY s.yr""".stripMargin))
    assert(e.getMessage.contains("only one view"), e.getMessage)
  }

  // SQL precedence: `a AND b OR c` is (a AND b) OR c — a top-level OR makes
  // the WHERE one disjunctive predicate, which must evaluate row-level on
  // the owning view's base, never be split into pseudo-conjuncts
  test("multi-fact WHERE measure predicate under top-level OR keeps precedence") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW or_sales AS
        |SELECT * FROM VALUES
        |  (2022, 'a', 10.0), (2022, 'a', 90.0), (2022, 'b', 30.0), (2022, 'b', 50.0),
        |  (2023, 'a', 40.0), (2023, 'a', 60.0), (2024, 'c', 20.0)
        |AS t(yr, grp, amount)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW or_targets AS
        |SELECT * FROM VALUES (2022, 5.0), (2023, 7.0), (2024, 9.0) AS t(yr, target)""".stripMargin)
    engine.sql(
      """CREATE VIEW or_sales_v AS SELECT yr, grp, amount,
        |AVG(amount) AS MEASURE avg_amt, SUM(amount) AS MEASURE total FROM or_sales""".stripMargin)
    engine.sql("CREATE VIEW or_tgt_v AS SELECT yr, SUM(target) AS MEASURE t_sum FROM or_targets")
    // (amount > avg(grp,yr) AND grp='a') OR grp='b':
    // 2022: 90 (a, >50) + 30 + 50 (b) = 170; 2023: 60; 2024: none
    checkGolden(engine.sql(
      """SELECT s.yr, AGGREGATE(total) AS tot
        |FROM or_sales_v s JOIN or_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE grp = s.grp AND yr = s.yr) AND s.grp = 'a' OR s.grp = 'b'
        |GROUP BY s.yr ORDER BY s.yr""".stripMargin),
      """2022	170
        |2023	60""".stripMargin)
    // keywords in the predicate (OR / IS / NULL) are not column references
    checkGolden(engine.sql(
      """SELECT s.yr, AGGREGATE(total) AS tot
        |FROM or_sales_v s JOIN or_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE grp = s.grp AND yr = s.yr) OR s.amount IS NULL
        |GROUP BY s.yr ORDER BY s.yr""".stripMargin),
      """2022	140
        |2023	60""".stripMargin)
    // a disjunct reaching into the OTHER view is rejected loudly, not
    // silently regrouped (pre-fix this returned wrong rows)
    val e = intercept[GraftException](engine.sql(
      """SELECT s.yr FROM or_sales_v s JOIN or_tgt_v t ON s.yr = t.yr
        |WHERE s.amount > s.avg_amt AT (WHERE yr = s.yr) OR t.target > 5
        |GROUP BY s.yr""".stripMargin))
    assert(e.getMessage.contains("another view"), e.getMessage)
  }

  // DuckDB schema semantics for main.-qualified drops under a temp shadow:
  // the dropped permanent must not be readable via main.x later in the
  // batch, and a later bare DROP of the shadow must not resurrect it
  test("DROP VIEW main.x is honored for the rest of the batch") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW qd_sales AS
        |SELECT * FROM VALUES (2022, 10.0), (2023, 20.0) AS t(yr, amount)""".stripMargin)
    engine.sql("CREATE OR REPLACE VIEW qd_v AS SELECT yr, SUM(amount) AS MEASURE qm FROM qd_sales")
    val e = intercept[GraftException](engine.sql(
      """CREATE TEMP VIEW qd_v AS SELECT yr, SUM(amount * 2) AS MEASURE qm FROM qd_sales;
        |DROP VIEW main.qd_v;
        |CREATE TABLE qd_read AS SELECT yr, AGGREGATE(qm) AS v FROM main.qd_v GROUP BY yr;""".stripMargin))
    assert(e.getMessage.contains("does not exist"), e.getMessage)

    engine.sql("CREATE OR REPLACE VIEW qd2_v AS SELECT yr, SUM(amount) AS MEASURE qm2 FROM qd_sales")
    engine.sql("DROP TABLE IF EXISTS qd2_read")
    engine.sql(
      """CREATE TEMP VIEW qd2_v AS SELECT yr, SUM(amount * 2) AS MEASURE qm2 FROM qd_sales;
        |CREATE TABLE qd2_read AS SELECT yr, AGGREGATE(qm2) AS v FROM qd2_v GROUP BY yr;
        |DROP VIEW main.qd2_v;
        |DROP VIEW qd2_v;""".stripMargin)
    // the explicitly dropped permanent must NOT be resurrected by the
    // bare drop of its shadow
    intercept[Exception](engine.sql("SELECT yr, AGGREGATE(qm2) FROM qd2_v GROUP BY yr").collect())
    checkGolden(engine.sql("SELECT yr, v FROM qd2_read ORDER BY yr"),
      """2022	20
        |2023	40""".stripMargin)
  }

  // multi-fact join + plain-aggregate HAVING: the condition stays inside the
  // grouped __outer over the join (previously rejected, PERF.md §5)
  test("multi-fact HAVING with a plain aggregate") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mf_orders AS
        |SELECT * FROM VALUES (2022, 10.0), (2022, 20.0), (2023, 5.0)
        |AS t(yr, price)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mf_items AS
        |SELECT * FROM VALUES (2022, 1.0), (2023, 2.0), (2023, 3.0)
        |AS t(yr, amt)""".stripMargin)
    engine.sql("CREATE VIEW mf_ord_v AS SELECT yr, SUM(price) AS MEASURE tp FROM mf_orders")
    engine.sql("CREATE VIEW mf_li_v AS SELECT yr, SUM(amt) AS MEASURE ta FROM mf_items")
    // COUNT(*) counts JOIN rows per year: 2022 -> 2x1=2, 2023 -> 1x2=2;
    // HAVING COUNT(*) >= 2 keeps both, > 2 keeps none
    checkGolden(engine.sql(
      """SELECT o.yr, AGGREGATE(tp) AS tp, AGGREGATE(ta) AS ta
        |FROM mf_ord_v o JOIN mf_li_v l ON o.yr = l.yr
        |GROUP BY o.yr HAVING COUNT(*) >= 2 ORDER BY o.yr""".stripMargin),
      """2022	30	1
        |2023	5	5""".stripMargin)
    assert(engine.sql(
      """SELECT o.yr, AGGREGATE(tp) AS tp
        |FROM mf_ord_v o JOIN mf_li_v l ON o.yr = l.yr
        |GROUP BY o.yr HAVING COUNT(*) > 2""".stripMargin).count() == 0)
  }

  // measure queries inside subquery positions of a NON-measure outer query
  // (reference: expand_cte_queries recursion, measures.rs:2113-2251)
  test("measure query in IN / EXISTS / derived-table subquery positions") {
    // IN: years whose total revenue exceeds 200 -> 2023 (225) only
    checkGolden(engine.sql(
      """SELECT year, COUNT(*) AS n FROM cw_sales
        |WHERE year IN (SELECT year FROM (SELECT year, AGGREGATE(revenue) AS r FROM cw_v GROUP BY year) t WHERE r > 200)
        |GROUP BY year ORDER BY year""".stripMargin),
      "2023\t2")
    // EXISTS with a measure-aggregate body
    checkGolden(engine.sql(
      """SELECT COUNT(*) AS n FROM cw_sales
        |WHERE EXISTS (SELECT 1 FROM (SELECT AGGREGATE(revenue) AS r FROM cw_v) t WHERE r > 300)""".stripMargin),
      "4")
    // derived table in FROM of a plain query
    checkGolden(engine.sql(
      """SELECT MAX(r) AS max_rev FROM (SELECT year, AGGREGATE(revenue) AS r FROM cw_v GROUP BY year) t""".stripMargin),
      "225")
  }

  // review regression: the subquery fallback must not rescan a WITH
  // statement with the OUTER scope — a CTE shadowing a measure-view name
  // must shadow it inside subqueries too
  test("CTE shadowing holds inside subqueries of the same WITH") {
    val df = engine.sql(
      """WITH cw_v AS (SELECT 2022 AS year, 1.0 AS revenue)
        |SELECT year FROM cw_sales WHERE year IN (SELECT year FROM cw_v) GROUP BY year""".stripMargin)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2022))
  }

  test("ordered STRING_AGG with multiple keys and same direction") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW osa_rows AS
        |SELECT * FROM VALUES (1, 2, 'b'), (1, 1, 'a'), (2, 0, 'c') AS t(g, o, v)""".stripMargin)
    val r = engine.sql(
      "SELECT STRING_AGG(v, ',' ORDER BY g DESC, o DESC) AS joined FROM osa_rows")
      .collect().head.getString(0)
    assert(r == "c,b,a", s"got $r")
  }

  // review regression: an ORDER BY key whose NAME contains "nulls" is not a
  // NULLS FIRST/LAST form and must still be rewritten
  test("ordered STRING_AGG by a column named nulls_count") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW osa_nc AS
        |SELECT * FROM VALUES (2, 'b'), (1, 'a'), (3, 'c') AS t(nulls_count, v)""".stripMargin)
    val r = engine.sql(
      "SELECT STRING_AGG(v, ',' ORDER BY nulls_count) AS joined FROM osa_nc")
      .collect().head.getString(0)
    assert(r == "a,b,c", s"got $r")
  }

  // review regression: measure queries nested in subquery spans of a
  // RECURSIVE CTE body must still expand (the body's top-level shape is
  // left alone; only parenthesized SELECT spans are rewritten)
  test("measure subquery inside a WITH RECURSIVE body expands") {
    val df = engine.sql(
      """WITH RECURSIVE nums AS (
        |  SELECT 1 AS i, (SELECT AGGREGATE(revenue) FROM cw_v) AS total
        |  UNION ALL
        |  SELECT i + 1, total FROM nums WHERE i < 3
        |)
        |SELECT i, total FROM nums ORDER BY i""".stripMargin)
    val rows = df.collect().map(r => (r.getInt(0), r.getDecimal(1).doubleValue)).toSeq
    assert(rows == Seq((1, 375.0), (2, 375.0), (3, 375.0)), s"got $rows")
  }

  test("PRODUCT shim: zero and negative handling") {
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW pz AS SELECT * FROM VALUES (2.0), (-3.0), (4.0) AS t(x)")
    val neg = engine.sql("SELECT PRODUCT(x) AS p FROM pz").collect().head.getDouble(0)
    assert(math.abs(neg - (-24.0)) < 1e-9, s"product = $neg")
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW pz0 AS SELECT * FROM VALUES (2.0), (0.0), (4.0) AS t(x)")
    val zero = engine.sql("SELECT PRODUCT(x) AS p FROM pz0").collect().head.getDouble(0)
    assert(zero == 0.0)
  }

  // graft_warnings: the last statement's warnings as a queryable relation
  test("graft_warnings relation surfaces last statement's warnings") {
    engine.sql(
      """SELECT MONTH(order_date) AS m,
        |AGGREGATE(revenue) AT (ALL MONTH(order_date)) AS total
        |FROM daily_orders_v WHERE YEAR(order_date) = 2023 GROUP BY MONTH(order_date)""".stripMargin)
      .collect()
    val rows = engine.sql("SELECT pos, warning FROM graft_warnings ORDER BY pos").collect()
    assert(rows.length == 1, rows.mkString("; "))
    info("warning text: " + rows(0).getString(1))
    assert(rows(0).getInt(0) == 1)
    assert(rows(0).getString(1).contains("does not apply inside the AT context"), rows(0).getString(1))
    // the read itself emitted no warnings, so a second read sees an empty set
    assert(engine.sql("SELECT * FROM graft_warnings()").collect().isEmpty)
  }

  // windowed moments must pass through untouched: the raw-moment CASE rewrite
  // is a composite of several aggregates and cannot carry one OVER clause
  test("kurtosis/skewness OVER a window are not rewritten") {
    val sql = "SELECT kurtosis(x) OVER (PARTITION BY g) AS k FROM t"
    assert(functions.Shims(sql).contains("kurtosis(x) OVER"), functions.Shims(sql))
    val sql2 = "SELECT skewness(x) over w AS s FROM t WINDOW w AS (PARTITION BY g)"
    assert(functions.Shims(sql2).toLowerCase.contains("skewness(x) over"), functions.Shims(sql2))
    // the plain aggregate in the same statement IS still rewritten
    val mixed = functions.Shims("SELECT kurtosis(x) OVER (PARTITION BY g), skewness(y) FROM t")
    assert(mixed.contains("kurtosis(x) OVER") && !mixed.toLowerCase.contains("skewness(y)"), mixed)
  }

  // a permanent view re-created later in the same batch revives main.x reads
  test("re-created permanent view revives main.x in the same batch") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW rv_sales AS
        |SELECT * FROM VALUES (2022, 10.0), (2023, 20.0) AS t(yr, amount)""".stripMargin)
    engine.sql("CREATE OR REPLACE VIEW rv_v AS SELECT yr, SUM(amount) AS MEASURE rvm FROM rv_sales")
    engine.sql("DROP TABLE IF EXISTS rv_read")
    engine.sql(
      """CREATE TEMP VIEW rv_v AS SELECT yr, SUM(amount * 2) AS MEASURE rvm FROM rv_sales;
        |DROP VIEW main.rv_v;
        |CREATE OR REPLACE VIEW rv_v2 AS SELECT yr, SUM(amount * 3) AS MEASURE rvm FROM rv_sales;
        |DROP VIEW rv_v;
        |CREATE OR REPLACE VIEW rv_v AS SELECT yr, SUM(amount * 3) AS MEASURE rvm FROM rv_sales;
        |CREATE TABLE rv_read AS SELECT yr, AGGREGATE(rvm) AS v FROM main.rv_v GROUP BY yr;""".stripMargin)
    checkGolden(engine.sql("SELECT yr, v FROM rv_read ORDER BY yr"),
      """2022	30
        |2023	60""".stripMargin)
  }

  // expandSql is inspection-only: it must not leave hidden __graft_perm_*
  // twins registered in either catalog after it returns (temp measure shadows
  // are batch-scoped, so the only reachable outside-a-batch shapes are the
  // unshadowed qualified read and the cleanup of anything materialized)
  test("expandSql leaves no hidden views behind outside a batch") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW ex_sales AS
        |SELECT * FROM VALUES (2022, 10.0), (2023, 20.0) AS t(yr, amount)""".stripMargin)
    engine.sql("CREATE OR REPLACE VIEW ex_v AS SELECT yr, SUM(amount) AS MEASURE exm FROM ex_sales")
    val expanded = engine.expandSql("SELECT yr, AGGREGATE(exm) FROM main.ex_v GROUP BY yr")
    assert(expanded.toLowerCase.contains("ex_v"), expanded)
    assert(!spark.catalog.tableExists("__graft_perm_ex_v"),
      "expandSql leaked hidden temp view __graft_perm_ex_v")
    // and the expansion it reports matches what a real batch executes
    checkGolden(engine.sql("SELECT yr, AGGREGATE(exm) AS v FROM main.ex_v GROUP BY yr ORDER BY yr"),
      """2022	10
        |2023	20""".stripMargin)
  }

  // expandSql and sql() share their statement preprocessing: a leading
  // comment ahead of the SEMANTIC prefix expands in both
  test("expandSql expands a commented SEMANTIC statement like sql() does") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW sc_sales AS
        |SELECT * FROM VALUES (2022, 10.0), (2023, 20.0) AS t(yr, amount)""".stripMargin)
    engine.sql("CREATE OR REPLACE VIEW sc_v AS SELECT yr, SUM(amount) AS MEASURE scm FROM sc_sales")
    val q = "-- note\nSEMANTIC SELECT yr, AGGREGATE(scm) AS r FROM sc_v GROUP BY yr"
    val expanded = engine.expandSql(q)
    assert(!expanded.contains("AGGREGATE"), expanded)
    checkGolden(spark.sql(expanded),
      """2022	10
        |2023	20""".stripMargin)
  }

  test("a prepared statement cannot run a prepared-statement command") {
    val ex = intercept[GraftException](engine.sql("PREPARE p_self AS EXECUTE p_self; EXECUTE p_self"))
    assert(ex.getMessage.contains("PREPARE p_self"), ex.getMessage)
  }

  // round-11: measure VIEWS whose body is a set operation — the base
  // relation is the set-op OUTPUT wrapped whole (measures.rs:2645-2650)
  test("measure views over set-operation bases: context rows are the union output") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 10.0), ('y', 20.0), ('x', 10.0) AS t(g, amt)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_b AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 5.0), ('z', 7.0) AS t(g, amt)""".stripMargin)
    // UNION ALL base: duplicates preserved (x appears 3 times)
    engine.sql(
      """CREATE OR REPLACE VIEW so_v AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev, COUNT(*) AS MEASURE n FROM so_a
        |UNION ALL SELECT g, amt, NULL, NULL FROM so_b""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM so_v GROUP BY g ORDER BY g"),
      """x	25
        |y	20
        |z	7""".stripMargin)
    // AT (ALL) over the union output; WHERE is visible-context only
    checkGolden(engine.sql(
      """SELECT g, AGGREGATE(n) AS c, AGGREGATE(rev) AT (ALL) AS total
        |FROM so_v WHERE amt > 6 GROUP BY g ORDER BY g""".stripMargin),
      """x	2	52
        |y	1	52
        |z	1	52""".stripMargin)
    // UNION (DISTINCT) base: the duplicate (x, 10) row collapses
    engine.sql(
      """CREATE OR REPLACE VIEW so_dv AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM so_a
        |UNION SELECT g, amt, NULL FROM so_b""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM so_dv GROUP BY g ORDER BY g"),
      """x	15
        |y	20
        |z	7""".stripMargin)
    // measures declared in a LATER branch are collected too (first decl of
    // a name wins; every declaring slot is replaced)
    engine.sql(
      """CREATE OR REPLACE VIEW so_mv AS
        |SELECT g, amt, NULL AS mx FROM so_a
        |UNION ALL SELECT g, amt, MAX(amt) AS MEASURE mx FROM so_b""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(mx) AS v FROM so_mv GROUP BY g ORDER BY g"),
      """x	10
        |y	20
        |z	7""".stripMargin)
    // EXCEPT base: rows of a minus rows of b (by full row)
    engine.sql(
      """CREATE OR REPLACE VIEW so_ev AS
        |SELECT g, amt, COUNT(*) AS MEASURE n FROM so_a
        |EXCEPT SELECT g, amt, NULL FROM so_b""".stripMargin)
    checkGolden(engine.sql("SELECT AGGREGATE(n) AS c FROM so_ev"), "2")
    engine.sql("DROP VIEW so_v"); engine.sql("DROP VIEW so_dv")
    engine.sql("DROP VIEW so_mv"); engine.sql("DROP VIEW so_ev")
  }

  // round-12 (r11 verdict task 4): set-op view corners
  test("set-op measure views: parenthesized branches unwrap; nesting errors guided") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 10.0), ('y', 20.0), ('x', 10.0) AS t(g, amt)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_b AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 5.0), ('z', 7.0) AS t(g, amt)""".stripMargin)
    // both branches parenthesized — the habitual way users write unions —
    // including a parenthesized FIRST branch (which hides SELECT from the
    // whole-body clause scan)
    engine.sql(
      """CREATE OR REPLACE VIEW so_pv AS
        |(SELECT g, amt, SUM(amt) AS MEASURE rev FROM so_a)
        |UNION ALL (SELECT g, amt, NULL FROM so_b)""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM so_pv GROUP BY g ORDER BY g"),
      """x	25
        |y	20
        |z	7""".stripMargin)
    // EXCEPT with a parenthesized right branch must stay a set op (the
    // select-list `* EXCEPT(col)` skip must not swallow it)
    engine.sql(
      """CREATE OR REPLACE VIEW so_pe AS
        |SELECT g, amt, COUNT(*) AS MEASURE n FROM so_a
        |EXCEPT (SELECT g, amt, NULL FROM so_b)""".stripMargin)
    checkGolden(engine.sql("SELECT AGGREGATE(n) AS c FROM so_pe"), "2")
    // nested set op inside a paren branch: guided error, not a raw Spark
    // AS MEASURE parse failure
    val ex = intercept[GraftException](engine.sql(
      """CREATE OR REPLACE VIEW so_nest AS
        |(SELECT g, amt, SUM(amt) AS MEASURE rev FROM so_a
        | UNION ALL SELECT g, amt, NULL FROM so_b)
        |EXCEPT SELECT g, amt, NULL FROM so_b""".stripMargin))
    assert(ex.getMessage.contains("nested set operations"))
    // whole-union ORDER BY/LIMIT after a PARENTHESIZED last branch: the
    // tail is split off before unwrap, so this works (base = post-limit
    // output; top-2 by amt DESC are (20, y), (10, x))
    engine.sql(
      """CREATE OR REPLACE VIEW so_ptail AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM so_a
        |UNION ALL (SELECT g, amt, NULL FROM so_b) ORDER BY amt DESC, g LIMIT 2""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM so_ptail GROUP BY g ORDER BY g"),
      """x	10
        |y	20""".stripMargin)
    // an ORDER BY/LIMIT nested BETWEEN paren layers is not a plain wrapped
    // SELECT: guided error
    val ex2 = intercept[GraftException](engine.sql(
      """CREATE OR REPLACE VIEW so_tail AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM so_a
        |UNION ALL ((SELECT g, amt, NULL FROM so_b) LIMIT 1)""".stripMargin))
    assert(ex2.getMessage.contains("parenthesized branch"))
    engine.sql("DROP VIEW so_pv"); engine.sql("DROP VIEW so_pe")
    engine.sql("DROP VIEW so_ptail")
  }

  test("set-op measure views: trailing ORDER BY / LIMIT on the last branch") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 10.0), ('y', 20.0), ('x', 10.0) AS t(g, amt)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_b AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 5.0), ('z', 7.0) AS t(g, amt)""".stripMargin)
    // the ORDER BY/LIMIT binds to the WHOLE union (standard SQL) and the
    // base relation is the post-limit output: top-3 rows by (amt, g) are
    // (20, y), (10, x), (10, x)
    engine.sql(
      """CREATE OR REPLACE VIEW so_lim AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev, COUNT(*) AS MEASURE n FROM so_a
        |UNION ALL SELECT g, amt, NULL, NULL FROM so_b
        |ORDER BY amt DESC, g LIMIT 3""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v, AGGREGATE(n) AS c FROM so_lim GROUP BY g ORDER BY g"),
      """x	20	2
        |y	20	1""".stripMargin)
    engine.sql("DROP VIEW so_lim")
  }

  test("select-list EXCEPT(col) is not a set operator (views and queries)") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW so_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt, 1 AS junk FROM VALUES ('x', 10.0), ('y', 20.0) AS t(g, amt)""".stripMargin)
    // measure view whose body uses Spark's * EXCEPT(col) projection: must
    // take the single-SELECT path (r11 ADVICE: the splitter used to produce
    // a '('-leading pseudo-branch and a raw AS MEASURE parse error)
    engine.sql(
      """CREATE OR REPLACE VIEW so_xv AS
        |SELECT * EXCEPT (junk), SUM(amt) AS MEASURE rev FROM so_a""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM so_xv GROUP BY g ORDER BY g"),
      """x	10
        |y	20""".stripMargin)
    // and on the query side: * EXCEPT in a measure query is not a branch split
    checkGolden(engine.sql(
      """SELECT * EXCEPT (c) FROM
        |  (SELECT g, AGGREGATE(rev) AS v, COUNT(*) AS c FROM so_xv GROUP BY g) ORDER BY g""".stripMargin),
      """x	10
        |y	20""".stripMargin)
    engine.sql("DROP VIEW so_xv")
  }

  test("set operations: each UNION branch expands; WITH prefixes hoisted; tail re-attached") {
    // branch 1 grouped by month, branch 2 the grand total via AT (ALL)
    checkGolden(engine.sql(
      """SELECT CAST(MONTH(order_date) AS STRING) AS k, AGGREGATE(revenue) AS v
        |FROM daily_orders_v GROUP BY MONTH(order_date)
        |UNION ALL
        |SELECT 'total', AGGREGATE(revenue) FROM daily_orders_v
        |ORDER BY k""".stripMargin),
      """1	250
        |2	320
        |3	270
        |total	840""".stripMargin)
    // EXCEPT with a measure branch; LIMIT belongs to the whole union
    checkGolden(engine.sql(
      """SELECT CAST(MONTH(order_date) AS INT) AS m FROM daily_orders_v GROUP BY 1
        |EXCEPT SELECT 2 AS m ORDER BY m LIMIT 1""".stripMargin),
      "1")
    // mixed: measure branch UNION plain-SQL branch
    checkGolden(engine.sql(
      """SELECT 'm' AS k, AGGREGATE(revenue) AS v FROM daily_orders_v
        |UNION ALL SELECT 'p', SUM(amount) FROM daily_orders ORDER BY k""".stripMargin),
      """m	840
        |p	840""".stripMargin)
  }

  // Regression (round-8 advice): a composite Decomposable measure like
  // SUM(a)/SUM(b) must NOT take the derived-frame re-aggregation shortcut —
  // sum of per-group ratios != ratio of sums. Same for MAX(x)-MIN(x).
  test("composite decomposable measures recompute AT frames from base, not from __outer") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW ratio_rows AS
        |SELECT * FROM VALUES
        |  ('a', 10.0, 2.0), ('a', 20.0, 2.0),
        |  ('b', 50.0, 10.0), ('b', 10.0, 6.0)
        |AS t(grp, num, den)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE VIEW ratio_v AS
        |SELECT grp, SUM(num)/SUM(den) AS MEASURE ratio,
        |       MAX(num)-MIN(num) AS MEASURE spread
        |FROM ratio_rows""".stripMargin)
    // per-group: a = 30/4 = 7.5, b = 60/16 = 3.75; grand = 90/20 = 4.5
    // (the buggy derived path would report SUM(7.5, 3.75) = 11.25)
    checkGolden(engine.sql(
      """SELECT grp, AGGREGATE(ratio) AS r, AGGREGATE(ratio) AT (ALL) AS overall
        |FROM ratio_v""".stripMargin),
      """a	7.5	4.5
        |b	3.75	4.5""".stripMargin)
    // spreads: a = 20-10 = 10, b = 50-10 = 40; grand = 50-10 = 40 — but with
    // num values arranged so the buggy MAX-of-spreads differs, use AT (ALL grp)
    checkGolden(engine.sql(
      """SELECT grp, AGGREGATE(spread) AS s, AGGREGATE(spread) AT (ALL grp) AS g
        |FROM ratio_v""".stripMargin),
      """a	10	40
        |b	40	40""".stripMargin)
    // a genuinely distinguishing spread case: groups whose per-group spreads
    // never reach the global spread
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW spread_rows AS
        |SELECT * FROM VALUES ('a', 10.0), ('a', 12.0), ('b', 14.0), ('b', 20.0)
        |AS t(grp, x)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE VIEW spread_v AS
        |SELECT grp, MAX(x)-MIN(x) AS MEASURE spread FROM spread_rows""".stripMargin)
    // per-group: a = 2, b = 6; grand = 20-10 = 10 (buggy: MAX(2,6) = 6)
    checkGolden(engine.sql(
      """SELECT grp, AGGREGATE(spread) AS s, AGGREGATE(spread) AT (ALL) AS g
        |FROM spread_v""".stripMargin),
      """a	2	10
        |b	6	10""".stripMargin)
  }

  // round-8 fuzzer finding: in a multi-fact query, a WHERE over a base
  // column the view does not expose used to die with an
  // UNRESOLVED_COLUMN dump of the generated SQL
  test("multi-fact WHERE on a non-exposed base column raises a guided error") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mfe_base_a AS
        |SELECT * FROM VALUES (2020, 'US', 10.0), (2021, 'EU', 20.0) AS t(y, r, va)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mfe_base_b AS
        |SELECT * FROM VALUES (2020, 5.0), (2021, 7.0) AS t(y, vb)""".stripMargin)
    engine.sql("CREATE OR REPLACE VIEW mfe_va AS SELECT y, r, SUM(va) AS MEASURE ma FROM mfe_base_a")
    engine.sql("CREATE OR REPLACE VIEW mfe_vb AS SELECT y, SUM(vb) AS MEASURE mb FROM mfe_base_b")
    val e = intercept[GraftException](engine.sql(
      """SELECT a.y AS y, AGGREGATE(ma) AS c0, AGGREGATE(mb) AS c1
        |FROM mfe_va a JOIN mfe_vb b ON a.y = b.y
        |WHERE a.va > 15 GROUP BY a.y""".stripMargin).collect())
    assert(e.getMessage.contains("not exposed") && e.getMessage.contains("AT (WHERE"), e.getMessage)
    // and the same base column IS reachable through AT (WHERE ...) — a
    // single WHERE modifier drops all correlation, so both years see the
    // same scalar over the va > 15 base rows
    checkGolden(engine.sql(
      """SELECT a.y AS y, AGGREGATE(ma) AT (WHERE va > 15) AS c0
        |FROM mfe_va a JOIN mfe_vb b ON a.y = b.y GROUP BY a.y""".stripMargin),
      """2020	20
        |2021	20""".stripMargin)
  }

  test("call-site FILTER raises a guided error, not a generated-SQL parse error") {
    val e = intercept[GraftException](engine.sql(
      "SELECT MONTH(order_date) AS m, AGGREGATE(revenue) FILTER (WHERE amount > 100) AS r " +
        "FROM daily_orders_v GROUP BY 1").collect())
    assert(e.getMessage.contains("AT (WHERE"), e.getMessage)
  }

  test("quoted identifier-safe names work; spacey quoted names raise guided errors") {
    engine.sql("CREATE OR REPLACE VIEW q_ident_v AS SELECT order_date AS `OrderDate`, " +
      "SUM(amount) AS MEASURE `TotalAmt` FROM daily_orders")
    checkGolden(engine.sql(
      "SELECT MONTH(OrderDate) AS m, AGGREGATE(TotalAmt) AS v FROM q_ident_v GROUP BY 1 ORDER BY 1"),
      """1	250
        |2	320
        |3	270""".stripMargin)
    val e1 = intercept[GraftException](engine.sql(
      "CREATE VIEW bad_m_v AS SELECT order_date, SUM(amount) AS MEASURE `Total Amt` FROM daily_orders"))
    assert(e1.getMessage.contains("not a plain identifier"), e1.getMessage)
    val e2 = intercept[GraftException](engine.sql(
      "CREATE VIEW bad_d_v AS SELECT order_date AS `Order Date`, SUM(amount) AS MEASURE t FROM daily_orders"))
    assert(e2.getMessage.contains("not a plain identifier"), e2.getMessage)
  }

  // round-13 (r12 verdict task 4): measure view over a measure view —
  // never exercised by the reference corpus in either direction; the inner
  // view's clean form exposes NULL measure placeholders, so silence would
  // mean silently aggregating NULLs. Pinned as a guided error.
  test("measure view over a measure view raises a guided error") {
    engine.sql("CREATE OR REPLACE VIEW nv1 AS SELECT order_date, " +
      "SUM(amount) AS MEASURE rev FROM daily_orders")
    val e = intercept[GraftException](engine.sql(
      "CREATE VIEW nv2 AS SELECT order_date, SUM(rev) AS MEASURE rev2 FROM nv1"))
    assert(e.getMessage.contains("nesting measure views"), e.getMessage)
    // the inner view is untouched and still queryable
    checkGolden(engine.sql("SELECT AGGREGATE(rev) AS v FROM nv1"), "840")
    // self-reference under OR REPLACE captures the OLD view's NULL
    // placeholders — same hazard, same error
    val e2 = intercept[GraftException](engine.sql(
      "CREATE OR REPLACE VIEW nv1 AS SELECT order_date, SUM(rev) AS MEASURE rev FROM nv1"))
    assert(e2.getMessage.contains("nesting measure views"), e2.getMessage)
    // a CTE that merely SHADOWS a measure-view name is not a reference
    engine.sql("CREATE OR REPLACE VIEW nv3 AS WITH nv1 AS " +
      "(SELECT * FROM daily_orders) SELECT order_date, SUM(amount) AS MEASURE r3 FROM nv1")
    checkGolden(engine.sql("SELECT AGGREGATE(r3) AS v FROM nv3"), "840")
    // a PLAIN (non-measure) view over a measure view stays passthrough —
    // reference behavior: measure columns read as NULL placeholders there
    engine.sql("CREATE OR REPLACE TEMPORARY VIEW nv_plain AS SELECT order_date FROM nv1")
    checkGolden(engine.sql("SELECT COUNT(*) AS c FROM nv_plain"), "6")
    engine.sql("DROP VIEW nv3"); engine.sql("DROP VIEW nv1")
  }

  // round-13 (r12 ADVICE): a whole-set-op ORDER BY naming a measure plus a
  // LIMIT/OFFSET would cut base-relation rows by NULL-ordered slots —
  // guided error; dimension sorts and cut-free measure sorts stay allowed
  test("set-op view: measure-sorted LIMIT raises; dim sort and cut-free sort work") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW sot_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 10.0), ('y', 20.0), ('x', 10.0) AS t(g, amt)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW sot_b AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt FROM VALUES ('x', 5.0), ('z', 7.0) AS t(g, amt)""".stripMargin)
    val e = intercept[GraftException](engine.sql(
      """CREATE OR REPLACE VIEW sot_bad AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM sot_a
        |UNION ALL SELECT g, amt, NULL FROM sot_b
        |ORDER BY rev DESC LIMIT 2""".stripMargin))
    assert(e.getMessage.contains("NULL-ordered"), e.getMessage)
    // bare positional ordinal landing on the measure slot: same cut
    val e2 = intercept[GraftException](engine.sql(
      """CREATE OR REPLACE VIEW sot_bad AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM sot_a
        |UNION ALL SELECT g, amt, NULL FROM sot_b
        |ORDER BY 3 DESC LIMIT 2""".stripMargin))
    assert(e2.getMessage.contains("NULL-ordered"), e2.getMessage)
    // dimension-sorted LIMIT: well-defined on both renders
    engine.sql(
      """CREATE OR REPLACE VIEW sot_dim AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM sot_a
        |UNION ALL SELECT g, amt, NULL FROM sot_b
        |ORDER BY amt DESC, g LIMIT 3""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM sot_dim GROUP BY g ORDER BY g"),
      """x	20
        |y	20""".stripMargin)
    // measure-sorted WITHOUT a row cut: order never changes the multiset
    engine.sql(
      """CREATE OR REPLACE VIEW sot_os AS
        |SELECT g, amt, SUM(amt) AS MEASURE rev FROM sot_a
        |UNION ALL SELECT g, amt, NULL FROM sot_b
        |ORDER BY rev DESC""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM sot_os GROUP BY g ORDER BY g"),
      """x	25
        |y	20
        |z	7""".stripMargin)
    engine.sql("DROP VIEW sot_dim"); engine.sql("DROP VIEW sot_os")
  }

  // round-13 (r12 ADVICE): comment/string mask in the select-list-EXCEPT
  // classifier — both directions
  test("comments around EXCEPT parens classify correctly") {
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW soc_a AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt, 1 AS junk FROM VALUES ('x', 10.0), ('y', 20.0), ('x', 10.0) AS t(g, amt)""".stripMargin)
    engine.sql(
      """CREATE OR REPLACE TEMPORARY VIEW soc_b AS
        |SELECT g, CAST(amt AS DOUBLE) AS amt, 1 AS junk FROM VALUES ('x', 10.0), ('z', 7.0) AS t(g, amt)""".stripMargin)
    // genuine set op whose branch SELECT hides behind a comment inside the
    // paren: must still split (was misread as the select-list form).
    // EXCEPT distinct: {(x,10,1),(y,20,1)} minus {(x,10,1),(z,7,1)} = 1 row
    engine.sql(
      """CREATE OR REPLACE VIEW soc_ev AS
        |SELECT g, amt, junk, COUNT(*) AS MEASURE n FROM soc_a
        |EXCEPT (/* right branch */ SELECT g, amt, junk, NULL FROM soc_b)""".stripMargin)
    checkGolden(engine.sql("SELECT AGGREGATE(n) AS c FROM soc_ev"), "1")
    checkGolden(engine.sql("SELECT g FROM soc_ev"), "y")
    // select-list form with a comment before the paren: must NOT split
    engine.sql(
      """CREATE OR REPLACE VIEW soc_xv AS
        |SELECT * EXCEPT /* drop marker */ (junk), SUM(amt) AS MEASURE rev FROM soc_a""".stripMargin)
    checkGolden(engine.sql("SELECT g, AGGREGATE(rev) AS v FROM soc_xv GROUP BY g ORDER BY g"),
      """x	20
        |y	20""".stripMargin)
    engine.sql("DROP VIEW soc_ev"); engine.sql("DROP VIEW soc_xv")
  }
}
