package graft

import org.apache.spark.sql.functions._

import graft.ops.ScaleLayout

/** Bucketed co-located joins and salted skew joins, with plan evidence. */
class ScaleLayoutSuite extends SparkSpec {

  test("bucketed tables join without an exchange") {
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
    ScaleLayout.writeBucketed(orders.select("o_orderkey", "o_totalprice"), "b_orders", 8, "o_orderkey")
    ScaleLayout.writeBucketed(lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", 8, "l_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    // at test scale everything broadcasts; disable to expose the co-located
    // sort-merge path a 100 TB join would take
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      val plan = joined.queryExecution.executedPlan.toString()
      // co-located: SortMergeJoin with no shuffle (Exchange) feeding it
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  // the engineFor layout-aware path (graft.layout.bucketed, the Bench
  // default): fact temp views point at bucketed tables, so the headline
  // q_join_agg orderkey join carries no Exchange on either fact side
  test("engineFor bucketed mode runs q_join_agg without an orderkey exchange") {
    // bench-like config: dims broadcast (so the c ⋈ o join does not break
    // orders' bucketed distribution), facts join co-located
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
    spark.conf.set("graft.layout.bucketed", "true")
    try {
      SparkEntry.engineFor(spark, "/root/testdata/sf0.001")
      val df = SparkEntry.queries("q_join_agg")(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString()
      val exchanges = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
        .findAllIn(plan).size
      assert(exchanges == 0, s"bucketed fact join still shuffles on orderkey:\n$plan")
      assert(df.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("graft.layout.bucketed", "false")
      // restore plain fact views THROUGH engineFor so the mode tracker stays
      // in sync with the session (r11 ADVICE: a manual repoint leaves the
      // tracker at bucketed=true — the exact staleness the toggle test
      // below guards against)
      SparkEntry.engineFor(spark, "/root/testdata/sf0.001")
    }
  }

  // The bucket count floors at the session's parallelism, not at a fixed
  // host width: under local[4] at sf0.01 (1 MB of lineitem, far below
  // 8 MB per bucket) each bucketed table holds 4 buckets, so a bucketed
  // scan runs one wave of 4 tasks. Lineitem and orders must agree, or the
  // orderkey join shuffles again.
  test("engineFor sizes the bucketed layout to the session's parallelism") {
    val dir = "/root/testdata/sf0.01"
    // a session of its own: engineFor registers the fact views per session,
    // and the other tests here hold this session's views on sf0.001
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
    s.conf.set("graft.layout.bucketed", "true")
    // the catalog tables a frame reads, as the session catalog records them
    def tablesRead(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.catalogTable
      }.flatten.map(t => s.sessionState.catalog.getTableMetadata(t.identifier))
    assert(s.sparkContext.defaultParallelism == 4)
    SparkEntry.engineFor(s, dir)
    for (fact <- Seq("lineitem", "orders")) {
      val Seq(t) = tablesRead(s.table(fact))
      assert(t.bucketSpec.map(_.numBuckets).contains(4), s"${t.identifier}: ${t.bucketSpec}")
      assert(t.identifier.table.startsWith(fact + "_bkt_") && t.identifier.table.endsWith("_b4"),
        s"$fact reads ${t.identifier}")
    }
    val q = SparkEntry.queries("q_join_agg")(s, dir)
    val plan = q.queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r.findAllIn(plan).isEmpty,
      s"bucketed fact join still shuffles on orderkey:\n$plan")
    assert(q.count() > 0)
    val range = SparkEntry.queries("e_range")(s, dir)
    val events = tablesRead(range).filter(_.identifier.table.startsWith("events_tbkt_"))
    assert(events.nonEmpty, s"e_range reads no events_tbkt table:\n${range.queryExecution.analyzed}")
    for (t <- events)
      assert(t.bucketSpec.map(_.numBuckets).contains(4), s"${t.identifier}: ${t.bucketSpec}")
    val rangePlan = range.queryExecution.executedPlan.toString()
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(rangePlan).isEmpty,
      s"bucketed range join still shuffles on (user_id, __bin):\n$rangePlan")
    assert(range.count() > 0)
  }

  // engineFor caches per (session, dir, mode) but view registration is a
  // session side effect: toggling BACK to an already-seen mode must repoint
  // the fact views, not just return the cached engine. Before the r11 fix
  // the second `true` below silently kept the plain views (this is what made
  // ProbeBucketScan's interleaved A/B measure plain-vs-plain, ratio 1.0).
  // r12 (r11 verdict task 2): the temporal-family layout — events bucketed
  // by user_id with tus precomputed. The range join's two sides must arrive
  // pre-partitioned (both (user_id, __bin) exchanges elided via subset-key
  // co-partitioning), and the layout must not change any temporal result.
  test("bucketed events layout elides the range-join exchanges and preserves results") {
    val dir = "/root/testdata/sf0.001"
    val prevReq = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition", "true")
    try {
      spark.conf.set("graft.layout.bucketed", "false")
      SparkEntry.engineFor(spark, dir)
      val plainRows = Seq("e_range", "e_asof", "e_sessions")
        .map(q => q -> rows(SparkEntry.queries(q)(spark, dir))).toMap

      spark.conf.set("graft.layout.bucketed", "true")
      SparkEntry.engineFor(spark, dir)
      val df = SparkEntry.queries("e_range")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("events_tbkt"), s"bucketed mode should scan events_tbkt:\n$plan")
      val joinExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
      assert(joinExchanges == 0,
        s"bucketed range join still shuffles on (user_id, __bin):\n$plan")
      for (q <- Seq("e_range", "e_asof", "e_sessions"))
        assert(rows(SparkEntry.queries(q)(spark, dir)) == plainRows(q),
          s"$q results differ between layouts")
    } finally {
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prevReq)
      spark.conf.set("graft.layout.bucketed", "false")
      SparkEntry.engineFor(spark, dir)
    }
  }

  test("engineFor repoints fact views when the layout mode toggles back") {
    val dir = "/root/testdata/sf0.001"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
    // assert on WHICH table the scan reads — scale-independent (at sf0.001
    // the plain join broadcasts, so exchange counts can't discriminate)
    def readsBucketed(): Boolean =
      SparkEntry.queries("q_join_agg")(spark, dir)
        .queryExecution.executedPlan.toString().contains("lineitem_bkt")
    try {
      // start from a tracked plain registration: the PREVIOUS test restores
      // plain views manually (outside engineFor), so the mode tracker may
      // disagree with the session until the next engineFor call re-syncs it
      spark.conf.set("graft.layout.bucketed", "false")
      SparkEntry.engineFor(spark, dir)
      assert(!readsBucketed(), "plain mode should scan the parquet view")
      spark.conf.set("graft.layout.bucketed", "true")
      SparkEntry.engineFor(spark, dir)
      assert(readsBucketed(), "bucketed pass should scan lineitem_bkt")
      spark.conf.set("graft.layout.bucketed", "false")
      SparkEntry.engineFor(spark, dir)
      assert(!readsBucketed(), "toggling to plain must repoint back")
      spark.conf.set("graft.layout.bucketed", "true")
      SparkEntry.engineFor(spark, dir) // cache hit — must still repoint
      assert(readsBucketed(),
        "toggling back to bucketed must repoint the fact views (stale-view bug)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("graft.layout.bucketed", "false")
      // re-sync tracker + views in one call (see the first test's teardown)
      SparkEntry.engineFor(spark, dir)
    }
  }

  // the two scales the registration tests below move a session between
  private val (small, large) = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  // The fact views are session-wide while the engine cache is per
  // (session, dir, mode): returning to a dir already seen must repoint the
  // views, or plain-mode queries read the other dir's data with no error.
  test("engineFor repoints the fact views when a session returns to an earlier dir") {
    val s = spark.newSession()
    s.conf.set("graft.layout.bucketed", "false")
    val want = s.read.parquet(s"$small/lineitem.parquet").count()
    assert(want != s.read.parquet(s"$large/lineitem.parquet").count())
    SparkEntry.engineFor(s, small)
    SparkEntry.engineFor(s, large)
    SparkEntry.engineFor(s, small) // a cache hit — must still repoint
    assert(s.table("lineitem").count() == want, "lineitem still reads the other dir")
    assert(s.sql("SELECT count(*) FROM orders").head().getLong(0) ==
      s.read.parquet(s"$small/orders.parquet").count(), "orders still reads the other dir")
  }

  // engineFor sizes the shuffle width to the data it registers: sf0.01's
  // 1 MB lineitem under local[4] gets 4 partitions, not Spark's 200.
  test("engineFor narrows an unset shuffle width to the data") {
    val s = spark.newSession()
    s.conf.set("graft.layout.bucketed", "false")
    s.conf.unset("spark.sql.shuffle.partitions")
    assert(!s.sessionState.conf.contains("spark.sql.shuffle.partitions"))
    SparkEntry.engineFor(s, large)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // a width the caller sets afterwards is the caller's from then on
    s.conf.set("spark.sql.shuffle.partitions", "16")
    SparkEntry.engineFor(s, small)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "16")
  }

  test("engineFor keeps a shuffle width the caller set, across a layout toggle") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "64")
    for (mode <- Seq("false", "true", "false")) {
      s.conf.set("graft.layout.bucketed", mode)
      SparkEntry.engineFor(s, large)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "64", s"bucketed=$mode")
    }
  }

  test("shuffleWidth only narrows: a 10 GB table keeps a width of 200") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "200")
    val tenGb = 10L << 30
    assert(SparkEntry.dataWidth(s, tenGb) == 1280)
    assert(SparkEntry.shuffleWidth(s, tenGb) == 200)
    assert(SparkEntry.bucketCount(s, tenGb) == 128)
    // below 8 MB a partition the session's parallelism decides
    assert(SparkEntry.shuffleWidth(s, 1L << 20) == 4)
    assert(SparkEntry.shuffleWidth(s, 1100L << 20) == 137)
  }

  test("salted join splits a hot key and preserves results") {
    import spark.implicits._
    // hot key: 10_000 rows on key 1; normal keys 2..5
    val large = ((1 to 10000).map(i => (1L, i.toDouble)) ++
      (2 to 5).flatMap(k => (1 to 10).map(i => (k.toLong, i.toDouble))))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"), (6L, "absent"))
      .toDF("k", "name")
    val plain = large.join(small, "k").groupBy("name").agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
    val salted = ScaleLayout.saltedJoin(large, small, "k", salts = 4)
      .groupBy("name").agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
    assert(rows(plain) == rows(salted), s"salted join changed results:\n${rows(plain)}\nvs\n${rows(salted)}")
    // the salted plan joins on (k, __salt)
    val p = ScaleLayout.saltedJoin(large, small, "k", salts = 4).queryExecution.executedPlan.toString()
    assert(p.contains("__salt"), "expected salt column in the join")
  }

  test("range layout prunes files on the range column") {
    val dir = java.nio.file.Files.createTempDirectory("range-layout").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    ScaleLayout.writeRangeLayout(events, dir, "o_orderkey", 8)
    val back = spark.read.parquet(dir).filter(col("o_orderkey") < 100)
    assert(back.count() > 0)
    val scan = back.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters") && scan.contains("o_orderkey"),
      s"expected pushed filter on the range column:\n$scan")
  }

  test("date-partitioned layout prunes whole directories at planning") {
    val dir = java.nio.file.Files.createTempDirectory("date-layout").toString
    // events.parquet has carried TIMESTAMP(NANOS) (long under nanosAsLong)
    // or TIMESTAMP(MICROS) depending on driver generation; normalize to a
    // real timestamp column either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val events = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    ScaleLayout.writeDatePartitioned(events, dir, "ts")
    val back = spark.read.parquet(dir)
    val allDays = back.select("event_date").distinct().count()
    assert(allDays > 1, s"need multiple partitions to demonstrate pruning, got $allDays")
    val oneDay = back.select(min(col("event_date"))).collect()(0).getDate(0)
    val filtered = back.filter(col("event_date") === lit(oneDay))
    // planning-time evidence: the partition filter appears in the scan
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"expected a partition filter on event_date:\n$plan")
    // physical evidence: the filtered scan touches exactly one day's files
    val filesAll = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val filesOne = filtered.select(input_file_name()).distinct().count()
    assert(filesOne < filesAll && filesOne >= 1,
      s"pruned scan read $filesOne of $filesAll files")
    // one writer task per day: file count == day count
    assert(filesAll == allDays, s"$filesAll files for $allDays days (expected 1/day)")
  }
}
