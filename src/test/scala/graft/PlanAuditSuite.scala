package graft

/** Asserts the physical-plan properties PERF.md claims — pushed column
  * pruning, broadcast 1-row grand totals, inline visible contexts (no join),
  * dedup pushdown in multi-fact joins, partial aggregation.
  */
class PlanAuditSuite extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  lazy val engine: GraftEngine = SparkEntry.engineFor(spark, dir)

  private def planOf(sql: String): String = {
    val df = engine.sql(sql)
    df.queryExecution.executedPlan.toString()
  }
  private def formatted(sql: String): String = {
    val df = engine.sql(sql)
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
  }

  test("visible-context AGGREGATE inlines: no join in the plan") {
    val p = planOf("SELECT l_returnflag, AGGREGATE(revenue) AS revenue FROM li_v")
    assert(!p.contains("Join"), s"expected join-free plan, got:\n$p")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("column pruning reaches the parquet scan") {
    val p = planOf("SELECT l_returnflag, AGGREGATE(revenue) AS revenue FROM li_v")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_returnflag"),
      s"scan schema missing needed cols: $readSchema")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_shipdate"),
      s"scan reads unused columns: $readSchema")
  }

  test("grand-total frame is broadcast, not shuffled") {
    val p = planOf(
      "SELECT l_returnflag, AGGREGATE(revenue) AS revenue, AGGREGATE(revenue) AT (ALL) AS total FROM li_v")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the 1-row total frame, got:\n$p")
    assert(!p.contains("SortMergeJoin"), "grand total must not sort-merge join")
  }

  test("partial aggregation before the exchange") {
    val p = planOf("SELECT l_returnflag, AGGREGATE(qty) AS qty FROM li_v")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"expected map-side partial aggregation, got:\n$p")
  }

  test("multi-fact dedup pushdown produces no row-explosion join") {
    // simple shape: direct frame join (aggregate-then-join) — no __outer
    // CTE, each fact scanned once
    val expanded = engine.expandSql(
      "SELECT o.yr, AGGREGATE(total_price) AS tp, AGGREGATE(li_rev) AS lr " +
        "FROM ord_v o JOIN li_y l ON o.yr = l.yr")
    assert(!expanded.contains("__outer"),
      s"expected direct frame join without an __outer CTE, got: $expanded")
    assert("(?i)JOIN __f".r.findFirstIn(expanded).isDefined,
      s"expected frames joined directly, got: $expanded")
    // with an outer WHERE the general path stands, and its join sides must
    // still be DISTINCT-pruned (no row explosion before the GROUP BY)
    val guarded = engine.expandSql(
      "SELECT o.yr, AGGREGATE(total_price) AS tp, AGGREGATE(li_rev) AS lr " +
        "FROM ord_v o JOIN li_y l ON o.yr = l.yr WHERE o.yr > 1995")
    assert(guarded.contains("SELECT DISTINCT"),
      s"expected DISTINCT-pruned join sides, got: $guarded")
  }

  test("outer WHERE is pushed into the base scan") {
    val p = planOf("SELECT l_returnflag, AGGREGATE(qty) AS qty FROM li_v WHERE l_linestatus = 'F'")
    val pushed = "PushedFilters: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(pushed.contains("l_linestatus"), s"filter not pushed to scan: $pushed\nplan:\n$p")
  }

  test("rank<=k filter triggers WindowGroupLimit (per-partition top-k before the sort)") {
    val p = planOf(
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3""".stripMargin)
    assert(p.contains("WindowGroupLimit"),
      s"expected Spark's WindowGroupLimit pushdown of the rank filter, got:\n$p")
  }

  test("vocabulary top-N is TakeOrdered with partial counts, not a global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextAnalysis.vocabulary(docs, topN = 50)
      .queryExecution.executedPlan.toString()
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject top-N, got:\n$p")
    assert(!p.contains("\nSort ") && !p.contains("+- Sort "),
      s"top-N must not globally sort all tokens:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial counts before the token shuffle:\n$p")
  }

  test("int8 quantization plan is narrow: no exchange, scan-speed") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
    val p = graft.ops.Similarity.quantizeInt8(emb)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
  }

  // ------- paired pipeline cells (round 9): the scale properties their
  // PERF.md pairing rationale claims

  private def entryPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString()
  }

  test("q_hll: fused register fold is one scan, no join, map-side partials") {
    val p = entryPlan("q_hll")
    assert(!p.contains("Join"), s"HLL fold must not join:\n$p")
    assert(p.contains("partial_") || p.contains("Partial"),
      s"expected map-side partial register merge:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected ONE parquet scan, got $scans:\n$p")
  }

  test("t_cms: sketch joins are broadcast (512-cell frames), partial counts") {
    // the entry verifies exact vs estimate, so it joins — but only
    // sketch-sized frames (the 512-cell register table, the token
    // estimate lookup), which must broadcast, never sort-merge
    val p = entryPlan("t_cms")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"sketch frames must broadcast:\n$p")
    assert(p.contains("partial_") || p.contains("Partial"),
      s"expected map-side partial bucket counts:\n$p")
  }

  test("t_winnow_poly: per-row fingerprints, no join") {
    val p = entryPlan("t_winnow_poly")
    assert(!p.contains("Join"), s"winnowing twin must not join:\n$p")
  }

  test("t_subword: tokenizer scan has no sort-merge join or cartesian") {
    val p = entryPlan("t_subword")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"subword plan regressed to a heavyweight join:\n$p")
  }

  test("c_kmeans: only broadcast joins of k-row centroid frames") {
    val p = entryPlan("c_kmeans")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"k-means must join centroids by broadcast only:\n$p")
  }

  test("sessionization shuffles ONCE on the user key, window sort reused") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ev = raw.withColumn("tus", raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("ts div 1000")
      case _ =>
        org.apache.spark.sql.functions.expr("unix_micros(cast(ts as timestamp))")
    })
    val p = graft.ops.Sessions.sessionStats(ev, "user_id", "tus", "event_id", "value",
        gap = 30L * 60 * 1000000)
      .queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one user-key exchange, got $exchanges:\n$p")
    // the lag and the running counter must share one Window sort
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts <= 2, s"window sort not reused (got $sorts sorts):\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"expected map-side partial aggregation for the session stats:\n$p")
  }

  test("DISTINCT + MEDIAN read: no percentile buffer is keyed on the distinct column") {
    // graft inlines both measures into one aggregate; Spark's single-
    // distinct plan would group on (keys, l_partkey) and carry a
    // percentile buffer per group. SplitHolisticDistinct moves the MEDIAN
    // into its own aggregate keyed on the grouping keys alone.
    val df = engine.sql(
      "SELECT ship_year, l_linestatus, AGGREGATE(parts), AGGREGATE(med_qty) FROM li_v GROUP BY 1, 2")
    df.collect()
    val aggs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
    val percentileOnPartkey = aggs.filter { a =>
      a.groupingExpressions.exists(_.name == "l_partkey") &&
        a.aggregateExpressions.exists(_.aggregateFunction
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Percentile])
    }
    assert(aggs.nonEmpty && percentileOnPartkey.isEmpty,
      s"percentile buffers keyed on l_partkey:\n${percentileOnPartkey.mkString("\n")}")
  }
}
