package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, Classifier, Clustering, Curation, Dedup, GraphRank, LangModel, Multimodal, RangeJoin, Relevance, Sampling, Sessions, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry with an `oracleSql` twin is hash-compared against
  * DuckDB on the same parquet tables: column names, types and row order are
  * aligned on both sides (doubles rounded, year() cast to INT, NULLS FIRST
  * ordering).
  */
object SparkEntry {

  // ------------------------------------------------------------ engine setup

  private val engines = TrieMap.empty[String, GraftEngine]
  // the (dir, layout mode) each session's fact views point at. The views
  // are session-wide while the engine cache is per (session, dir, mode), so
  // a cache hit repoints them whenever they point elsewhere — and ONLY then
  // (repointing on every hit would re-read parquet footers inside Bench's
  // timed per-query path)
  private val registered = TrieMap.empty[String, (String, Boolean)]
  // the shuffle width engineFor set, per session: a width that still holds
  // this value is graft's to re-size, any other set width is the caller's
  private val sizedWidth = TrieMap.empty[String, String]

  private val ShuffleWidth = "spark.sql.shuffle.partitions"

  /** The engine over `dir`'s parquet tables and measure views, created once
    * per (session, dir, layout mode); every call points the session's temp
    * views at `dir` in the current mode (`graft.layout.bucketed`).
    *
    * Session confs it sets, and when:
    *  - `spark.sql.legacy.parquet.nanosAsLong=true` whenever it points the
    *    views at a dir (events.parquet carries TIMESTAMP(NANOS)).
    *  - `spark.sql.shuffle.partitions` whenever it points the views at a
    *    dir, unless the caller set it: min(the width in force,
    *    `dataWidth` of lineitem's bytes). It only narrows Spark's default
    *    (200), never widens it; a width engineFor set for another dir is
    *    re-sized, one the caller set is never touched.
    *  - `spark.sql.sources.bucketing.autoBucketedScan.enabled=true` on
    *    entry to bucketed mode.
    *  - `spark.sql.requireAllClusterKeysForCoPartition=false` while in
    *    bucketed mode; the caller's value comes back on the toggle to plain.
    */
  def engineFor(spark: SparkSession, dir: String): GraftEngine = {
    // layout-aware mode (`graft.layout.bucketed`): the big fact tables are
    // ingested ONCE as bucketed tables on their join key, so every later
    // equi-join/agg on that key runs without an Exchange. This is the layout
    // a 100 TB deployment runs — the shuffle is paid at ingest, not per
    // query (measured: q_join_agg 6.56 -> 2.80 s at 100x, ProbeBucketed100x:
    // `git show bbeb2bc:src/main/scala/graft/tools/ProbeBucketed100x.scala`)
    val bucketed = spark.conf.getOption("graft.layout.bucketed")
      .orElse(sys.env.get("SPARK_GRAFT_BUCKETED")).exists(_.toBoolean)
    val sessKey = System.identityHashCode(spark).toString
    // Temp-view registration is a SIDE EFFECT on the shared session, which
    // the engine cache below knows nothing of: a cached engine for this dir
    // and mode says nothing about where the views point now.
    registered.get(sessKey) match {
      case Some((`dir`, `bucketed`)) =>
      case Some((`dir`, _)) =>
        // a layout TOGGLE on this dir: only the two fact views differ
        // between the modes (this exact staleness made ProbeBucketScan's
        // interleaved A/B measure plain-vs-plain, ratio 1.0). Repoint them
        // (cheap — the measure views resolve these names late, at query
        // time, so nothing else needs re-creation). Do NOT trust the cache
        // key that the _bkt tables still exist (r11 ADVICE: an external DROP
        // or a cleaned warehouse dir would turn the repoint into a bare
        // TABLE_OR_VIEW_NOT_FOUND from inside engineFor) — the ingest helper
        // re-creates any missing table.
        if (bucketed) ensureBucketedFacts(spark, dir)
        else for (t <- Seq("lineitem", "orders"))
          spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      case _ =>
        // first call on this session, or its views point at ANOTHER dir: a
        // cache hit for this dir would otherwise leave them there, and
        // plain-mode queries would read the other dir's data with no error
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for (t <- Seq("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"))
          spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
        if (bucketed) ensureBucketedFacts(spark, dir)
        sizeShuffleWidth(spark, sessKey, dir)
    }
    registered.put(sessKey, (dir, bucketed))
    val engine = engines.getOrElseUpdate(sessKey + "|" + dir + "|" + bucketed, {
      val e = GraftEngine(spark)
      e.sql(
        """CREATE VIEW li_v AS
          |SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
          |  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE revenue,
          |  SUM(l_quantity) AS MEASURE qty,
          |  COUNT(*) AS MEASURE cnt,
          |  AVG(l_extendedprice) AS MEASURE avg_price,
          |  COUNT(DISTINCT l_partkey) AS MEASURE parts,
          |  MEDIAN(l_quantity) AS MEASURE med_qty,
          |  SUM(l_extendedprice * l_tax) AS MEASURE tax_amt,
          |  revenue - tax_amt AS MEASURE net_rev,
          |  STDDEV(l_quantity) AS MEASURE sd_qty,
          |  MIN(l_extendedprice) AS MEASURE min_price,
          |  MAX(l_extendedprice) AS MEASURE max_price,
          |  SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS MEASURE disc_price,
          |  SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END) AS MEASURE big_qty,
          |  MODE(l_linenumber) AS MEASURE mode_line,
          |  array_join(array_sort(array_distinct(collect_list(l_linestatus))), ',') AS MEASURE statuses
          |FROM lineitem""".stripMargin)
      e.sql(
        """CREATE VIEW ord_v AS
          |SELECT year(o_orderdate) AS yr, o_orderpriority, o_orderstatus,
          |  SUM(o_totalprice) AS MEASURE total_price,
          |  COUNT(*) AS MEASURE order_cnt,
          |  AVG(o_totalprice) AS MEASURE avg_order
          |FROM orders""".stripMargin)
      e.sql(
        """CREATE VIEW li_y AS
          |SELECT year(l_shipdate) AS yr, l_returnflag,
          |  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE li_rev
          |FROM lineitem""".stripMargin)
      e.sql(
        """CREATE VIEW win_v AS
          |SELECT year(l_shipdate) AS yr,
          |  SUM(l_quantity) OVER (PARTITION BY year(l_shipdate)) AS MEASURE yr_qty
          |FROM lineitem""".stripMargin)
      e.sql(
        """CREATE VIEW li_rows AS
          |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
          |  AVG(l_quantity) AS MEASURE avg_qty
          |FROM lineitem""".stripMargin)
      // raw date column exposed so AT (ALL <expr>) / AT (SET <expr> = v) can
      // name ad-hoc expression dims (reference: measures.test SET/ALL
      // expression-dimension cases)
      e.sql(
        """CREATE VIEW li_raw AS
          |SELECT l_shipdate, l_returnflag, l_quantity,
          |  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE raw_rev
          |FROM lineitem""".stripMargin)
      // measure view over a SET-OPERATION base (measures.rs:2645-2650 wraps
      // the whole set-op query as the base relation): branches OVERLAP on
      // open orders above 150k, so the UNION ALL multiset genuinely differs
      // from any single filter — r11, driver-checks the branch-aware path
      e.sql(
        """CREATE VIEW so_ord_v AS
          |SELECT o_orderpriority AS pri, o_totalprice AS price,
          |  SUM(price) AS MEASURE so_rev,
          |  COUNT(*) AS MEASURE so_cnt
          |FROM orders WHERE o_orderstatus = 'O'
          |UNION ALL SELECT o_orderpriority, o_totalprice, NULL, NULL
          |FROM orders WHERE o_totalprice > 150000""".stripMargin)
      // statistical / boolean / bitwise aggregate surface (reference fan-out
      // battery: BOOL_AND/BOOL_OR/BIT_XOR/moments, measures.test:2480-2600)
      e.sql(
        """CREATE VIEW stat_v AS
          |SELECT l_returnflag,
          |  CORR(l_quantity, l_extendedprice) AS MEASURE qp_corr,
          |  COVAR_SAMP(l_quantity, l_extendedprice) AS MEASURE qp_covar,
          |  REGR_SLOPE(l_extendedprice, l_quantity) AS MEASURE price_slope,
          |  BOOL_AND(l_quantity > 5) AS MEASURE all_big,
          |  BOOL_OR(l_discount > 0.09) AS MEASURE any_bigdisc,
          |  BIT_XOR(l_partkey) AS MEASURE key_xor,
          |  KURTOSIS(l_quantity) AS MEASURE q_kurt,
          |  SKEWNESS(l_quantity) AS MEASURE q_skew
          |FROM lineitem""".stripMargin)
      // ordered-set aggregates + deterministic FIRST/LAST-style measures
      // (reference: ordered_set_v battery, measures.test:2908-2960)
      e.sql(
        """CREATE VIEW pct_v AS
          |SELECT l_returnflag,
          |  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_quantity) AS MEASURE p50_qty,
          |  PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS MEASURE p25d_price,
          |  QUANTILE_CONT(l_quantity, 0.75) AS MEASURE q75_qty,
          |  QUANTILE_DISC(l_quantity, 0.5) AS MEASURE q50d_qty,
          |  MIN_BY(l_extendedprice, l_orderkey * 10 + l_linenumber) AS MEASURE first_price,
          |  MAX_BY(l_extendedprice, l_orderkey * 10 + l_linenumber) AS MEASURE last_price
          |FROM lineitem""".stripMargin)
      e
    })
    // Join subset-key elision gate (r12 ADVICE): the bucketed temporal
    // layout needs `requireAllClusterKeysForCoPartition=false` (a
    // user_id-bucketed scan satisfies ClusteredDistribution for a
    // (user_id, __bin) join only when the subset-key gate is off — measured
    // 3.6x WORSE without it, PERF.md §0l). Scope it to the MODE, not the
    // first temporal query: set on entry to bucketed mode, restore the
    // pre-bucketed value on the toggle back, so plain-arm A/B timings and
    // later co-partition-eligible joins run under the session's own config.
    if (bucketed) {
      if (!savedCoPartGate.contains(sessKey))
        savedCoPartGate.put(sessKey, spark.conf.getOption(
          "spark.sql.requireAllClusterKeysForCoPartition").getOrElse("true"))
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    } else savedCoPartGate.remove(sessKey).foreach(v =>
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", v))
    engine
  }

  // pre-bucketed-mode value of the co-partition gate, per session — lets
  // the bucketed->plain toggle restore the user's own setting
  private val savedCoPartGate = TrieMap.empty[String, String]

  /** Name of a bucketed table: `<base>_<dirhash>_b<buckets>`. The dir
    * hash keeps layouts of different sfDirs apart: the warehouse is shared
    * across sfDirs while the engine cache is keyed by (session, dir), so a
    * bare name like `events_tbkt` written for one dir would be silently
    * reused for another — temporal queries would read stale-scale data
    * with no error (r12 ADVICE). String.hashCode is stable across JVMs, so
    * re-runs against the same dir still reuse the ingested table. The
    * bucket count keeps layouts sized for different hosts apart: a
    * warehouse reused at another core count writes its own tables, and a
    * lineitem table never pairs with an orders table of another count
    * (Spark elides the orderkey exchange only when the counts match).
    */
  private def bucketedTable(base: String, dir: String, buckets: Int): String =
    base + "_" + java.lang.Integer.toHexString(
      new java.io.File(dir).getAbsolutePath.hashCode & 0x7fffffff) + "_b" + buckets

  /** Partitions a table of `bytes` on disk warrants: ~8 MB each, floored
    * at the session's parallelism so a scan or a shuffle keeps every core
    * busy in one wave.
    */
  private[graft] def dataWidth(spark: SparkSession, bytes: Long): Int =
    math.max(spark.sparkContext.defaultParallelism.toLong, bytes / (8L * 1024 * 1024)).toInt

  /** Bucket count of an ingested table of `bytes`: its `dataWidth`, capped
    * at 128 so small-file overhead stays bounded.
    */
  private[graft] def bucketCount(spark: SparkSession, bytes: Long): Int =
    math.min(128, dataWidth(spark, bytes))

  /** The session's shuffle width narrowed to a fact table of `bytes`:
    * min(the width in force, its `dataWidth`) — 4 for sf0.01 under
    * local[4], where Spark's default 200 has every map task write 200
    * blocks for AQE to merge back; a 10 GB table keeps 200.
    */
  private[graft] def shuffleWidth(spark: SparkSession, bytes: Long): Int =
    math.min(spark.conf.get(ShuffleWidth).toInt, dataWidth(spark, bytes))

  /** Size the shuffle width to `dir`'s lineitem unless the caller set it
    * (`sessionState.conf.contains` tells a set width from Spark's default).
    * A width engineFor set earlier is unset first, so a later, larger dir
    * is sized from the default again rather than from the smaller dir.
    */
  private def sizeShuffleWidth(spark: SparkSession, sessKey: String, dir: String): Unit = {
    val conf = spark.sessionState.conf
    if (conf.contains(ShuffleWidth) &&
        !sizedWidth.get(sessKey).contains(conf.getConfString(ShuffleWidth)))
      sizedWidth.remove(sessKey)
    else {
      spark.conf.unset(ShuffleWidth)
      val width = shuffleWidth(spark, parquetBytes(dir, "lineitem")).toString
      spark.conf.set(ShuffleWidth, width)
      sizedWidth.put(sessKey, width)
    }
  }

  private def parquetBytes(dir: String, table: String): Long = {
    val f = new java.io.File(s"$dir/$table.parquet")
    if (f.isDirectory) f.listFiles().map(_.length()).sum else f.length()
  }

  /** The user_id-bucketed events table of `dir` for this session, and its
    * bucket count.
    */
  private def eventsBucketed(spark: SparkSession, dir: String): (String, Int) = {
    val buckets = bucketCount(spark, parquetBytes(dir, "events"))
    (bucketedTable("events_tbkt", dir, buckets), buckets)
  }

  /** Ingest-or-repoint the bucketed fact tables: write any missing
    * `<fact>_bkt` bucketed table (untimed, like a deployment's write path)
    * and point the session's fact temp views at them.
    */
  private def ensureBucketedFacts(spark: SparkSession, dir: String): Unit = {
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    // ONE bucket count for both fact tables — Spark only elides the
    // exchange on both sides of a join when the bucket counts match —
    // sized from the biggest table
    val buckets = bucketCount(spark, parquetBytes(dir, "lineitem"))
    for ((t, key) <- Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")) {
      val tbl = bucketedTable(t + "_bkt", dir, buckets)
      if (!spark.catalog.tableExists(tbl))
        graft.ops.ScaleLayout.writeBucketed(
          spark.read.parquet(s"$dir/$t.parquet"), tbl, buckets, key)
      spark.table(tbl).createOrReplaceTempView(t)
    }
    // Temporal-family layout (r11 verdict task 2, measured at 100x:
    // e_range 0.42x / e_asof 0.51x / e_sessions 0.55x — ProbeRangeLayout):
    // events bucketed by user_id, sorted (user_id, tus), tus precomputed.
    // The `events` temp view is NOT repointed (the extra tus column would
    // change SELECT * shapes); eventsWithTus routes to this table when the
    // bucketed layout is on. The probe:
    // `git show bbeb2bc:src/main/scala/graft/tools/ProbeRangeLayout.scala`
    val (events, evBuckets) = eventsBucketed(spark, dir)
    if (!spark.catalog.tableExists(events)) {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val tus = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => expr("unix_micros(cast(ts as timestamp))")
      }
      raw.withColumn("tus", tus)
        .repartition(evBuckets, col("user_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(evBuckets, "user_id").sortBy("user_id", "tus")
        .saveAsTable(events)
    }
  }

  private def m(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => engineFor(s, dir).sql(sql)

  /** DROP TABLE on a session that died mid-write can leave the managed
    * location behind; clear it so CTAS entries are re-runnable.
    */
  private def clearManaged(s: SparkSession, table: String): Unit = {
    val wh = new java.io.File(new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath, table)
    if (wh.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(wh)
    }
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Shared signal frame for the corpus-quality dashboard and its five
    * single-column bisect twins: per document the (source, lang) group
    * keys, the d_exact whitespace/case normalization, the token count as
    * BIGINT, and quality in exact integer 1e-4 units (deterministic SUM,
    * one IEEE division at the very end — the q_histq discipline).
    */
  private def dashBase(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.analyze(docs(s, dir)).select(col("source"), col("lang"),
      lower(regexp_replace(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " ")).as("__norm"),
      col("n_tokens").cast("long").as("__ntok"),
      round(col("quality_score") * 10000).cast("long").as("__qi"))

  /** Grouped median of __ntok by explicit rank interpolation — no
    * median() call on either side. Per (source, lang): group the integer
    * token counts, cumulate ordered counts, pick the values at 1-based
    * positions (n+1) div 2 and n div 2 + 1 (equal when n is odd), and
    * average the two BIGINTs with one division by 2.0 (exact in IEEE —
    * halving an integer is lossless). Replaces the version-sensitive
    * median() in t_dashboard after the r9 driver artifact disproved the
    * integer-median hypothesis (fix landed both sides, row stayed red).
    */
  /** The two 1-based rank picks behind the explicit median: integer
    * columns __mlo / __mhi, exposed separately so the all-integer bisect
    * entry (t_dash_ints) can pin them without any doubles in sight.
    */
  private def dashMedianParts(s: SparkSession, dir: String): DataFrame = {
    val cnt = dashBase(s, dir).groupBy("source", "lang", "__ntok")
      .agg(count(lit(1)).as("__c"))
    val grp = org.apache.spark.sql.expressions.Window.partitionBy("source", "lang")
    cnt
      .withColumn("__cum", sum("__c").over(grp.orderBy("__ntok")))
      .withColumn("__n", sum("__c").over(grp))
      .groupBy("source", "lang").agg(
        min(when(col("__cum") >= expr("(__n + 1) div 2"), col("__ntok"))).as("__mlo"),
        min(when(col("__cum") >= expr("__n div 2 + 1"), col("__ntok"))).as("__mhi"))
  }

  private def dashMedian(s: SparkSession, dir: String): DataFrame =
    dashMedianParts(s, dir)
      .select(col("source"), col("lang"),
        ((col("__mlo") + col("__mhi")) / lit(2.0)).as("med_tokens"))

  /** events with an integer-microsecond `tus` column, robust to how the
    * driver generated the parquet: TIMESTAMP(NANOS) arrives as a long under
    * `nanosAsLong` (div 1000), TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ
    * (`unix_micros` after the UTC-session cast — the same naive value
    * DuckDB's `epoch_us(ts)` computes, so the oracle SQL is type-agnostic).
    */
  private def eventsWithTus(s: SparkSession, dir: String): DataFrame = {
    engineFor(s, dir)
    val bucketed = s.conf.getOption("graft.layout.bucketed")
      .orElse(sys.env.get("SPARK_GRAFT_BUCKETED")).exists(_.toBoolean)
    lazy val events = eventsBucketed(s, dir)._1
    if (bucketed && s.catalog.tableExists(events)) {
      // The user_id-bucketed layout pre-partitions every temporal operator's
      // shuffle key. Join subset-key elision is additionally gated by
      // requireAllClusterKeysForCoPartition (default TRUE since Spark 3.3 —
      // generic skew protection): with the layout on, per-user co-location
      // IS the contract (skewed users take the salting escape hatch in
      // ScaleLayout). engineFor flips that gate off for bucketed mode and
      // restores it on the toggle back. Measured at 100x: e_range
      // 3.17 -> 1.34 s with both (user_id, __bin) exchanges elided;
      // e_asof 0.51x, e_sessions 0.55x (ProbeRangeLayout:
      // `git show bbeb2bc:src/main/scala/graft/tools/ProbeRangeLayout.scala`).
      s.table(events).drop("ts")
    } else {
      val e = s.table("events")
      val tus = e.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => expr("unix_micros(cast(ts as timestamp))")
      }
      e.withColumn("tus", tus)
    }
  }
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("m_at_all_pct")(spark, "/root/testdata/sf0.001")

  /** Fixed subword vocabulary for t_subword* — one Scala constant feeds
    * BOTH the engine expression and the oracle's VALUES list, so the two
    * sides cannot drift. Mix of full words, fragments and single chars;
    * letters like g/q/u stay out so the <unk> fallback is exercised.
    */
  private val SubVocab: Seq[String] = Seq(
    "table", "scan", "join", "window", "stream", "value", "column", "order",
    "filter", "merge", "batch", "vector", "customer", "line", "data", "key",
    "row", "hash", "agg", "part", "small", "slow", "fast", "big", "sort",
    "spark", "the", "er", "or", "an", "in", "re", "st", "ing", "s", "e", "t", "a")
  private def subVocabValues: String =
    SubVocab.map(p => s"('$p')").mkString(", ")

  // ------------------------------------------------------------ queries

  private val rev = "l_extendedprice * (1 - l_discount)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- measure-engine operators (engine.sql end-to-end) ----
    "m_agg_basic" -> m(
      s"SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v ORDER BY l_returnflag"),
    "m_agg_twodim" -> m(
      "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(qty), 2) AS qty, AGGREGATE(cnt) AS cnt " +
        "FROM li_v ORDER BY l_returnflag, l_linestatus"),
    "m_agg_where" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(qty), 2) AS qty FROM li_v WHERE ship_year >= 1998 ORDER BY l_returnflag"),
    "m_agg_count" -> m(
      "SELECT o_orderpriority, AGGREGATE(order_cnt) AS order_cnt FROM ord_v ORDER BY o_orderpriority"),
    // set-op-base measure view (so_ord_v): per-group over the overlapping
    // UNION ALL multiset, plus grand total and an uncorrelated AT (WHERE)
    "m_setop_view" -> m(
      "SELECT pri, ROUND(AGGREGATE(so_rev), 2) AS rev, AGGREGATE(so_cnt) AS cnt FROM so_ord_v ORDER BY pri"),
    "m_setop_at" -> m(
      "SELECT pri, ROUND(AGGREGATE(so_rev) AT (ALL), 2) AS total, " +
        "ROUND(AGGREGATE(so_rev) AT (WHERE price > 200000), 2) AS big FROM so_ord_v ORDER BY pri"),
    "m_avg" -> m(
      "SELECT l_linestatus, ROUND(AGGREGATE(avg_price), 4) AS avg_price FROM li_v ORDER BY l_linestatus"),
    "m_at_all_pct" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue, " +
        "ROUND(100.0 * AGGREGATE(revenue) / AGGREGATE(revenue) AT (ALL), 4) AS pct " +
        "FROM li_v ORDER BY l_returnflag"),
    "m_at_all_dim" -> m(
      "SELECT ship_year, l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue, " +
        "ROUND(AGGREGATE(revenue) AT (ALL l_returnflag), 2) AS year_total " +
        "FROM li_v ORDER BY ship_year, l_returnflag"),
    "m_at_set_yoy" -> m(
      "SELECT ship_year, ROUND(AGGREGATE(revenue), 2) AS revenue, " +
        "ROUND(AGGREGATE(revenue) AT (SET ship_year = ship_year - 1), 2) AS prior_year " +
        "FROM li_v ORDER BY ship_year"),
    "m_at_where" -> m(
      "SELECT ship_year, ROUND(AGGREGATE(revenue) AT (WHERE l_returnflag = 'R'), 2) AS r_rev " +
        "FROM li_v ORDER BY ship_year"),
    "m_visible" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(revenue) AT (VISIBLE), 2) AS revenue " +
        "FROM li_v WHERE l_linestatus = 'F' GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_chained_all" -> m(
      "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(qty) AT (ALL l_returnflag) AT (ALL l_linestatus), 2) AS total_qty " +
        "FROM li_v ORDER BY l_returnflag, l_linestatus"),
    "m_derived" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(net_rev), 2) AS net_rev FROM li_v ORDER BY l_returnflag"),
    "m_countdistinct" -> m(
      "SELECT l_returnflag, AGGREGATE(parts) AS parts FROM li_v ORDER BY l_returnflag"),
    "m_median" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(med_qty), 2) AS med_qty FROM li_v ORDER BY l_returnflag"),
    "m_rollup" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v " +
        "GROUP BY ROLLUP(l_returnflag) ORDER BY l_returnflag NULLS FIRST"),
    "m_groupingsets" -> m(
      "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "m_multifact" -> m(
      "SELECT o.yr, ROUND(AGGREGATE(total_price), 2) AS total_price, ROUND(AGGREGATE(li_rev), 2) AS li_rev " +
        "FROM ord_v o JOIN li_y l ON o.yr = l.yr ORDER BY o.yr"),
    "m_window" -> m(
      "SELECT yr, ROUND(AGGREGATE(yr_qty), 2) AS yr_qty FROM win_v ORDER BY yr"),
    // set-operation expansion: each UNION branch is an independent
    // measure query (WITH prefixes hoisted, union tail re-attached)
    "m_union" -> m(
      "SELECT l_returnflag AS k, ROUND(AGGREGATE(revenue), 2) AS v FROM li_v GROUP BY l_returnflag " +
        "UNION ALL SELECT l_linestatus, ROUND(AGGREGATE(revenue), 2) FROM li_v GROUP BY l_linestatus " +
        "ORDER BY k, v"),
    // QUALIFY rewrite (hoist predicate over the nested post-aggregation
    // result, filter, project away) composed with measure expansion
    "m_qualify" -> m(
      "SELECT ship_year, l_returnflag, ROUND(AGGREGATE(qty), 2) AS year_qty FROM li_v " +
        "GROUP BY ship_year, l_returnflag " +
        "QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY year_qty DESC, ship_year) <= 2 " +
        "ORDER BY l_returnflag, year_qty DESC, ship_year"),
    // QUALIFY on a measure-free passthrough statement (top order per
    // customer) — same rewrite, no expansion involved
    "q_qualify" -> m(
      "SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1 " +
        "ORDER BY o_custkey LIMIT 500"),
    "m_stddev" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(sd_qty), 4) AS sd_qty FROM li_v ORDER BY l_returnflag"),
    "m_minmax" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(min_price), 2) AS min_price, ROUND(AGGREGATE(max_price), 2) AS max_price FROM li_v ORDER BY l_returnflag"),
    "m_filter_measure" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(disc_price), 2) AS disc_price FROM li_v ORDER BY l_returnflag"),
    "m_case_measure" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(big_qty), 2) AS big_qty FROM li_v ORDER BY l_returnflag"),
    // MODE is only hash-comparable when the mode is UNIQUE per group —
    // tie-break is engine-defined (reference: docs/ordered_set_aggregates
    // .md:24). Verified on the testdata: the top l_linenumber count leads
    // the runner-up by >=10 in every l_returnflag group at sf0.001/0.01/0.1,
    // so no tie-break can fire.
    "m_mode" -> m(
      "SELECT l_returnflag, AGGREGATE(mode_line) AS mode_line FROM li_v ORDER BY l_returnflag"),
    "m_string_agg" -> m(
      "SELECT l_returnflag, AGGREGATE(statuses) AS statuses FROM li_v ORDER BY l_returnflag"),
    "m_current" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(revenue) AT (ALL l_returnflag SET ship_year = CURRENT ship_year - 1), 2) AS prior_rev " +
        "FROM li_v WHERE ship_year = 1999 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_at_all_where" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(revenue) AT (ALL l_returnflag WHERE ship_year = 1998), 2) AS rev_1998 " +
        "FROM li_v GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_derived_at" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(net_rev), 2) AS net_rev, ROUND(AGGREGATE(net_rev) AT (ALL), 2) AS total_net " +
        "FROM li_v ORDER BY l_returnflag"),
    "m_rowlevel_where" -> m(
      "SELECT l_orderkey, l_linenumber FROM li_rows o " +
        "WHERE o.l_quantity > o.avg_qty AT (WHERE l_returnflag = o.l_returnflag) AND o.l_orderkey <= 640 " +
        "ORDER BY l_orderkey, l_linenumber"),
    // measure predicate in the WHERE of a GROUPED query: rows filter through
    // the measure first (__vbase), then group; the visible context reads the
    // filtered base (reference WHERE-position calls, measures.rs:7110-7592)
    "m_where_grouped" -> m(
      "SELECT l_returnflag, COUNT(*) AS n, ROUND(AGGREGATE(avg_qty), 4) AS filtered_avg " +
        "FROM li_rows o WHERE o.l_quantity > o.avg_qty AT (WHERE l_returnflag = o.l_returnflag) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // measure predicate in the WHERE of a MULTI-FACT query: the conjunct is
    // owned by ord_v and filters its base (orders) rows through a per-view
    // filtered base before the join; li_y's measure is untouched
    // (reference WHERE-position calls, measures.rs:7110-7592)
    "m_multifact_where" -> m(
      "SELECT o.yr, ROUND(AGGREGATE(total_price), 2) AS total_price, ROUND(AGGREGATE(li_rev), 2) AS li_rev " +
        "FROM ord_v o JOIN li_y l ON o.yr = l.yr " +
        "WHERE o.o_totalprice > o.avg_order AT (WHERE yr = o.yr) " +
        "GROUP BY o.yr ORDER BY o.yr"),
    "m_ctas" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.sql("DROP TABLE IF EXISTS ctas_out")
      clearManaged(s, "ctas_out")
      e.sql("CREATE TABLE ctas_out AS SELECT l_returnflag, ROUND(AGGREGATE(qty), 2) AS qty FROM li_v")
      e.sql("SELECT l_returnflag, qty FROM ctas_out ORDER BY l_returnflag")
    }),
    // {m} sugar -> AGGREGATE(m) (reference: expand_curly_braces, measures.rs:994-1018)
    "m_curly" -> m(
      "SELECT l_returnflag, ROUND({revenue}, 2) AS revenue, ROUND({revenue} / {cnt}, 4) AS rev_per_item " +
        "FROM li_v ORDER BY l_returnflag"),
    // bare measure ref: paper-default semantics — evaluated in the visible
    // context when the query groups (reference: measures.test:3170 Case 2)
    "m_bare_default" -> m(
      "SELECT l_returnflag, ROUND(revenue, 2) AS revenue FROM li_v GROUP BY l_returnflag ORDER BY l_returnflag"),
    // AT (ALL <expr>) with an ad-hoc expression dimension
    "m_at_all_expr" -> m(
      "SELECT year(l_shipdate) AS yr, ROUND(AGGREGATE(raw_rev), 2) AS revenue, " +
        "ROUND(AGGREGATE(raw_rev) AT (ALL year(l_shipdate)), 2) AS total " +
        "FROM li_raw GROUP BY year(l_shipdate) ORDER BY yr"),
    // AT (SET <expr> = v): pin the expression dim to a constant
    "m_at_set_expr" -> m(
      "SELECT month(l_shipdate) AS mo, ROUND(AGGREGATE(raw_rev), 2) AS revenue, " +
        "ROUND(AGGREGATE(raw_rev) AT (SET month(l_shipdate) = 3), 2) AS march_rev " +
        "FROM li_raw GROUP BY month(l_shipdate) ORDER BY mo"),
    "m_percentile_cont" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(p50_qty), 4) AS p50_qty FROM pct_v ORDER BY l_returnflag"),
    "m_percentile_disc" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(p25d_price), 2) AS p25d_price FROM pct_v ORDER BY l_returnflag"),
    "m_quantile_cont" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(q75_qty), 4) AS q75_qty FROM pct_v ORDER BY l_returnflag"),
    "m_quantile_disc" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(q50d_qty), 2) AS q50d_qty FROM pct_v ORDER BY l_returnflag"),
    // FIRST/LAST-style measures made deterministic via MIN_BY/MAX_BY on a
    // unique ordering key
    "m_corr" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(qp_corr), 6) AS qp_corr, ROUND(AGGREGATE(qp_covar), 4) AS qp_covar " +
        "FROM stat_v ORDER BY l_returnflag"),
    "m_regr_slope" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(price_slope), 6) AS price_slope FROM stat_v ORDER BY l_returnflag"),
    "m_bool" -> m(
      "SELECT l_returnflag, AGGREGATE(all_big) AS all_big, AGGREGATE(any_bigdisc) AS any_bigdisc " +
        "FROM stat_v ORDER BY l_returnflag"),
    "m_bitxor" -> m(
      "SELECT l_returnflag, AGGREGATE(key_xor) AS key_xor FROM stat_v ORDER BY l_returnflag"),
    // DuckDB-convention bias-corrected sample moments (G1/G2) — the oracle
    // runs DuckDB's own kurtosis()/skewness(), so this gates the Shims
    // rewrite against the authoritative implementation
    "m_moments" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(q_kurt), 6) AS q_kurt, ROUND(AGGREGATE(q_skew), 6) AS q_skew " +
        "FROM stat_v ORDER BY l_returnflag"),
    // warning system surfaced as a relation: the AT (ALL) dropped-filter
    // warning (measures.test:727-744) read back via graft_warnings
    "m_warnings" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.sql("SELECT l_returnflag, AGGREGATE(revenue) AT (ALL l_returnflag) AS total " +
        "FROM li_v WHERE ship_year = 1995 GROUP BY l_returnflag").collect()
      e.sql("SELECT pos, warning FROM graft_warnings ORDER BY pos")
    }),
    // main.-qualified reads resolve the PERMANENT measure view while a TEMP
    // shadow owns the bare name (DuckDB schema semantics, measures.test:490).
    // The permanent must predate the shadowing batch, as in the corpus.
    "m_qualified_read" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.sql("DROP TABLE IF EXISTS qual_perm_result")
      e.sql("DROP TABLE IF EXISTS qual_temp_result")
      clearManaged(s, "qual_perm_result")
      clearManaged(s, "qual_temp_result")
      e.sql("CREATE OR REPLACE VIEW qual_v AS " +
        "SELECT l_returnflag, SUM(l_quantity) AS MEASURE qqty FROM lineitem")
      e.sql(
        """CREATE OR REPLACE TEMP VIEW qual_v AS
          |  SELECT l_returnflag, SUM(l_quantity * 100) AS MEASURE qqty FROM lineitem;
          |CREATE TABLE qual_perm_result AS
          |  SELECT l_returnflag, AGGREGATE(qqty) AS perm_qty FROM main.qual_v GROUP BY l_returnflag;
          |CREATE TABLE qual_temp_result AS
          |  SELECT l_returnflag, AGGREGATE(qqty) AS temp_qty FROM qual_v GROUP BY l_returnflag;""".stripMargin)
      e.sql(
        """SELECT p.l_returnflag, p.perm_qty, t.temp_qty
          |FROM qual_perm_result p JOIN qual_temp_result t ON p.l_returnflag = t.l_returnflag
          |ORDER BY p.l_returnflag""".stripMargin)
    }),
    "m_first" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(first_price), 2) AS first_price FROM pct_v ORDER BY l_returnflag"),
    "m_last" -> m(
      "SELECT l_returnflag, ROUND(AGGREGATE(last_price), 2) AS last_price FROM pct_v ORDER BY l_returnflag"),
    // TEMP measure view consumed by a materializing statement inside one
    // batch (reference batch invariants, yardstick_extension.cpp:1498-1754)
    "m_batch_tempview" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.sql("DROP TABLE IF EXISTS batch_out")
      clearManaged(s, "batch_out")
      e.sql(
        """CREATE TEMP VIEW batch_rev_v AS
          |SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS MEASURE brev FROM lineitem;
          |CREATE TABLE batch_out AS
          |SELECT l_returnflag, ROUND(AGGREGATE(brev), 2) AS revenue FROM batch_rev_v;""".stripMargin)
      e.sql("SELECT l_returnflag, revenue FROM batch_out ORDER BY l_returnflag")
    }),
    // DROP VIEW keeps the measure catalog in sync; recreate under the same
    // name with different measure semantics (measures.rs:7655-7661)
    "m_drop_recreate" -> ((s, dir) => {
      val e = engineFor(s, dir)
      e.sql("CREATE OR REPLACE VIEW dr_v AS SELECT l_linestatus, SUM(l_quantity) AS MEASURE m1 FROM lineitem")
      e.sql("DROP VIEW dr_v")
      e.sql("CREATE VIEW dr_v AS SELECT l_returnflag, AVG(l_quantity) AS MEASURE m1 FROM lineitem")
      e.sql("SELECT l_returnflag, ROUND(AGGREGATE(m1), 4) AS avg_qty FROM dr_v ORDER BY l_returnflag")
    }),

    // ---- classic SQL surface (engine passthrough) ----
    "q_tpch1" -> m(
      s"""SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
         |ROUND(SUM(l_extendedprice), 2) AS sum_base_price, ROUND(SUM($rev), 2) AS sum_disc_price,
         |ROUND(SUM($rev * (1 + l_tax)), 2) AS sum_charge, ROUND(AVG(l_quantity), 4) AS avg_qty,
         |ROUND(AVG(l_extendedprice), 4) AS avg_price, ROUND(AVG(l_discount), 6) AS avg_disc,
         |COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_join_agg" -> m(
      s"""SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin),
    "q_window_fn" -> m(
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin),
    "q_cube" -> m(
      """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_flag, g_status""".stripMargin),
    "q_setop" -> m(
      """SELECT 'orders' AS src, COUNT(*) AS n FROM orders
        |UNION ALL SELECT 'lineitem' AS src, COUNT(*) AS n FROM lineitem ORDER BY src""".stripMargin),
    "q_scalar_fns" -> m(
      """SELECT o_orderpriority, UPPER(o_orderstatus) AS status_u, COUNT(*) AS n,
        |ROUND(SUM(CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0 END), 2) AS big_total,
        |MIN(SUBSTR(o_orderpriority, 1, 1)) AS pri_prefix
        |FROM orders GROUP BY o_orderpriority, UPPER(o_orderstatus)
        |ORDER BY o_orderpriority, status_u""".stripMargin),
    "q_filter_agg" -> m(
      """SELECT l_returnflag, COUNT(*) FILTER (WHERE l_quantity > 25) AS big_cnt,
        |ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q_topk" -> m(
      "SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_events" -> m(
      "SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value FROM events GROUP BY event_type ORDER BY event_type"),
    "q_datetrunc" -> m(
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n
        |FROM orders GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE) ORDER BY month""".stripMargin),
    "q_exists" -> m(
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    "q_not_exists" -> m(
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    "q_in_subquery" -> m(
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q_except" -> m(
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000 ORDER BY k LIMIT 50""".stripMargin),

    // mergeable fixed-width histogram sketch -> deterministic quantile
    // estimates: one <=nBins-row shuffle instead of a global sort; the
    // oracle replays bin arithmetic + interpolation bit-for-bit
    "q_histq" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.ops.Histogram.quantileEstimates(li, "l_extendedprice",
          lo = 0.0, hi = 110000.0, nBins = 110,
          qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("q")
    }),
    // deterministic HLL register table for COUNT(DISTINCT l_orderkey):
    // integer-exact (hence hash-gated), at most 2^8 = 256 rows shuffle
    // after map-side combine no matter how many input rows; disjoint
    // slices merge by per-index MAX (asserted in SketchesSuite)
    "q_hll" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.ops.Sketches.hllRegisters(li, "l_orderkey", p = 8).orderBy("idx")
    }),
    // per-group HLL estimates next to exact COUNT(DISTINCT): the sketch
    // sum is exact integer arithmetic, so the single IEEE division at the
    // end replays bit-for-bit in the oracle
    "q_hll_est" -> ((s, dir) => {
      // NOTE the t_cms discipline (derive the sketch from the exact
      // aggregate) was A/B'd here and is a measured NEGATIVE at 1000×
      // (194 s vs 119 s): AQE does not reuse the shared distinct's
      // exchange across the two consumers, so the pairs shuffle runs
      // twice, while countDistinct's own partial-dedup expansion shuffles
      // once and the occurrence-level register fold costs only a scan
      // with a 256-row map-side-combined shuffle. Registers ARE
      // duplicate-insensitive (fenced in SketchesSuite) — the sharing is
      // correct, just not faster on this substrate. PERF.md §0i.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val regs = graft.ops.Sketches.hllRegisters(li, "l_orderkey", p = 8,
        groupCols = Seq("l_returnflag"))
      val est = graft.ops.Sketches.hllEstimate(regs, p = 8,
        groupCols = Seq("l_returnflag"))
      li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        .join(est, Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // ---- LLM-data-pipeline operators ----
    "d_exact" -> ((s, dir) => {
      val d = Dedup.exactDuplicates(docs(s, dir))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dups"))
        .orderBy("source")
    }),
    // incremental (batch-vs-index) exact dedup: history = doc_id < 250
    // folded into a fingerprint index, today's batch = the rest; keep
    // batch rows that are first-of-fingerprint in-batch AND novel vs the
    // index. The oracle replays both conditions on the normalized text.
    "d_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val index = Dedup.fingerprintIndex(d.filter(col("doc_id") < 250))
      Dedup.incrementalDedup(d.filter(col("doc_id") >= 250), index)
        .select("doc_id", "source").orderBy("doc_id")
    }),
    "t_tokens" -> ((s, dir) => {
      // all four counters come from ONE fused text scan (TextStatsExpr),
      // projected once so the document is read exactly once per row
      val d = docs(s, dir)
      d.select(col("doc_id"),
        graft.functions.TextStatsExpr.textStats(col("text")).as("__ts"))
        .select(col("doc_id"),
          col("__ts.n_tokens").cast("long").as("n_tokens"),
          col("__ts.n_subwords").cast("long").as("n_subwords"),
          col("__ts.n_digit").cast("long").as("n_digits"),
          col("__ts.n_chars").cast("long").as("len_chars"))
        .orderBy("doc_id")
    }),
    "s_knn" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("query_id", "rank")
    }),
    // testdata plants ~25 near-dup pairs per corpus, all at jaccard >= 0.9;
    // b=8/r=4 puts the LSH S-curve threshold at ~0.6 so candidates stay
    // sparse while recall at 0.9 is ~1. Oracle = exact all-pairs shingle
    // Jaccard in DuckDB: safe because the sf0.01 pair-similarity spectrum is
    // empty between 0.3 and 0.9 (measured), so LSH recall at the 0.7
    // threshold is exactly 1.
    "d_minhash" -> ((s, dir) =>
      Dedup.minhashNearDuplicates(docs(s, dir), threshold = 0.7, bands = 8, rows = 4)
        .orderBy("doc_id_a", "doc_id_b")),
    "d_simhash" -> ((s, dir) =>
      Dedup.simhashNearDuplicates(docs(s, dir), maxHamming = 12)
        .orderBy("doc_id_a", "doc_id_b")),
    // polynomial-hash simhash twin at maxHamming = 3, where the 4x16-bit
    // pigeonhole makes the banded candidate set provably complete — so the
    // engine's banded+capped output must EQUAL the oracle's all-pairs
    // hamming join, bit for bit
    "d_simhash_poly" -> ((s, dir) =>
      Dedup.simhashNearDuplicates(docs(s, dir), maxHamming = 3,
          hashFn = Some(Dedup.polyStringHash))
        .orderBy("doc_id_a", "doc_id_b")),
    // wide-band (126-bit) scale path with two replayable polynomial hash
    // families (mult 31 / 37): banded+capped output provably equals the
    // oracle's all-pairs combined-hamming join at maxHamming = 3
    "d_simhash_wide_poly" -> ((s, dir) =>
      Dedup.simhashNearDuplicatesWide(docs(s, dir), maxHamming = 3,
          hashFns = Some((Dedup.polyStringHash(_),
            Dedup.polyStringHash(_, 37L))))
        .orderBy("doc_id_a", "doc_id_b")),
    // exact inverted-index n-gram Jaccard — same oracle as d_minhash (both
    // must produce the exact pair set; the ALGORITHMS differ: probabilistic
    // banded LSH vs exact shared-token join)
    "d_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.7)
        .orderBy("doc_id_a", "doc_id_b")),
    // integer-exact PageRank over the undirected near-dup graph: doc
    // centrality = representativeness among its duplicates. All rank
    // arithmetic is integer (div-floored), so the oracle replays two
    // unrolled rounds bit-for-bit
    "g_pagerank" -> ((s, dir) =>
      GraphRank.pageRankUndirected(
          Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.7), iters = 2)
        .orderBy("id")),
    // cluster formation over the exact pair list (min-label propagation);
    // oracle = DuckDB recursive-CTE reachability over the same pairs
    "d_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.7))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")),
    // the canonical-keeper step: corpus minus every doc that shares a
    // cluster with a lower-id doc
    "d_cluster_dedup" -> ((s, dir) =>
      Dedup.dedupByPairs(docs(s, dir), Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.7))
        .select(col("doc_id"))
        .orderBy("doc_id")),
    "d_embed_neardup" -> ((s, dir) =>
      // testdata embeddings are random (max pairwise cosine ~0.48), so the
      // demo threshold sits in the observable tail; rows-only (LSH recall is
      // bucket-dependent by construction — the exact mode below is the
      // oracle-checked twin)
      Dedup.embeddingNearDuplicates(emb(s, dir), minCosine = 0.3, planes = 4)
        .orderBy("vec_id_a", "vec_id_b")),
    // planes=0 = exact mode: one bucket, all pairs verified — same operator
    // code path, closed-form DuckDB oracle (exact pairwise cosine)
    "d_embed_exact" -> ((s, dir) =>
      Dedup.embeddingNearDuplicates(emb(s, dir), minCosine = 0.3, planes = 0,
          maxBucket = 1000000)
        .orderBy("vec_id_a", "vec_id_b")),
    // SemDeDup: k-means clusters bound the pairwise cosine step, then
    // every vector with a lower-id >=0.3 neighbor in its cluster is
    // dropped — the full composition (deterministic k-means -> in-cluster
    // pairs -> keep rule) is replayed by the oracle
    "d_semdedup" -> ((s, dir) =>
      Dedup.semanticDedup(emb(s, dir), k = 8, iters = 1, minCosine = 0.3)
        .orderBy("vec_id")),
    "s_lsh_knn" -> ((s, dir) => {
      val e = emb(s, dir)
      // planes=4 × tables=4: measured recall@5 = 0.94 on the (random,
      // worst-case) testdata embeddings — see PipelineGatesSuite
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5, planes = 4, tables = 4)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("query_id", "rank")
    }),
    "s_ivf_knn" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 5, nCells = 8, nProbe = 3)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("query_id", "rank")
    }),
    // full-probe IVF (nProbe = nCells) visits every cell, so the index
    // machinery must reproduce brute force EXACTLY — hash-checked against
    // the same exact-cosine DuckDB oracle as s_knn (ties broken by
    // neighbor_id on both sides)
    "s_ivf_exact" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 5, nCells = 8, nProbe = 8)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("query_id", "rank")
    }),
    // int8 quantization — integer-exact oracle (quantized-value sums);
    // the scale column is IEEE-identical on both sides (max-abs / 127)
    "s_quant" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"))
        .orderBy("vec_id")),
    // reproducible sampling (training-data mixing): the keep/drop decision
    // is a pure integer-arithmetic hash predicate, so the DuckDB oracle
    // evaluates the IDENTICAL expression — exact row-set match, any engine
    "t_sample" -> ((s, dir) =>
      Sampling.deterministicSample(docs(s, dir), "doc_id", 0.25, seed = 7)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // weighted priority sampling: 50 docs, inclusion probability ∝ text
    // length — integer priority (w << 30) DIV u, exact on any engine
    "t_weighted" -> ((s, dir) =>
      Sampling.weightedPrioritySample(docs(s, dir), k = 50,
          greatest(length(col("text")), lit(1)), "doc_id", seed = 7)
        .select("doc_id", "source", "priority").orderBy("doc_id")),
    // reproducible training-order shuffle: position 1..N in key-hash
    // order via distributed two-phase enumeration (bucket counts ->
    // prefix-sum -> per-bucket row_number); the oracle runs the single
    // global-window definition it is provably equal to
    "t_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(docs(s, dir).select("doc_id"), "doc_id", seed = 7)
        .select("doc_id", "position").orderBy("doc_id")),
    // per-stratum rates (domain/language balancing); result = kept counts
    "t_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 0.9), default = 0.2, seed = 3)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),
    // benchmark-contamination screen: distinct word-3-gram overlap between
    // each corpus doc and a held-out benchmark slice (doc_id % 37 = 0);
    // benchmark gram hashes broadcast, corpus never shuffled by gram
    "t_contam" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.contaminationCheck(
          d.filter(col("doc_id") % 37 =!= 0), d.filter(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }),
    // source-mixture rebalancing: exact-BigInt per-source thresholds over
    // the deterministic hash predicate — the oracle replays the threshold
    // arithmetic in HUGEINT and the predicate in integer SQL
    "t_mixture" -> ((s, dir) =>
      Curation.rebalanceToMixture(docs(s, dir),
          Map("src0" -> 5L, "src1" -> 3L, "src2" -> 1L, "src3" -> 1L), seed = 7)
        .select("doc_id", "source").orderBy("doc_id")),
    // sub-document chunk dedup (C4-style repeated-span removal): every
    // distinct 10-word chunk survives once corpus-wide, docs reassemble
    // from surviving chunks; keeper choice is a skew-safe MIN aggregation
    "d_chunks" -> ((s, dir) =>
      Dedup.chunkDedup(docs(s, dir), chunkWords = 10).orderBy("doc_id")),
    // token-budget mixture: identical hash selection, but the threshold
    // arithmetic runs on SUM(n_tokens) per source — "30% of TOKENS from
    // src0", the way a training recipe is actually written
    "t_token_mixture" -> ((s, dir) => {
      val d = docs(s, dir)
      val withTok = d.withColumn("n_tokens",
        graft.functions.TextStatsExpr.textStats(col("text"))
          .getField("n_tokens").cast("long"))
      Curation.rebalanceToTokenMixture(withTok,
          Map("src0" -> 5L, "src1" -> 3L, "src2" -> 1L, "src3" -> 1L),
          massCol = "n_tokens", seed = 7)
        .select("doc_id", "source").orderBy("doc_id")
    }),
    // per-source cap, priority (n_chars DESC, doc_id): rank<=cap triggers
    // WindowGroupLimit's map-side partial top-K before the source shuffle
    "t_cap" -> ((s, dir) =>
      Curation.capPerSource(docs(s, dir), cap = 10)
        .select(col("doc_id"), col("source"), col("rank").cast("int").as("rank"))
        .orderBy("source", "rank")),
    // the COMPOSED curation pass (exact dedup -> near-dup clusters ->
    // contamination screen -> quality filter -> mixture rebalance): every
    // stage is individually gated; this entry pins the stage WIRING with
    // a five-stage DuckDB replay
    "t_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.CuratePipeline.curate(
          d.filter(col("doc_id") % 37 =!= 0),
          d.filter(col("doc_id") % 37 === 0),
          Map("src0" -> 2L, "src1" -> 1L, "src2" -> 1L, "src3" -> 1L),
          seed = 7)
        .select("doc_id", "source", "quality_score").orderBy("doc_id")
    }),
    // greedy sequence packing into 512-token packs across 8 hash shards —
    // the tokenize->batch step of an LLM pipeline; the oracle replays the
    // per-shard greedy recurrence with a recursive CTE over row_number()
    "t_pack" -> ((s, dir) => {
      val d = docs(s, dir)
      val withTok = d.select(col("doc_id"),
        graft.functions.TextStatsExpr.textStats(col("text"))
          .getField("n_tokens").cast("long").as("n_tokens"))
      graft.ops.Packing.packGreedy(withTok, "n_tokens", budget = 512,
          nShards = 8, seed = 7)
        .orderBy("doc_id")
    }),
    // the COMPOSED incremental cycle: a batch (doc_id % 3 != 0) curated
    // against a historical corpus (doc_id % 3 = 0: fingerprint index) and
    // yesterday's open-pack states (literal one-row-per-shard table) —
    // incremental dedup -> contamination screen -> quality filter ->
    // incremental packing, the wiring replayed end-to-end by the oracle
    "t_curate_incr" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val history = d.filter(col("doc_id") % 3 === 0)
      val prior = Seq((0L, 0L, 0L), (1L, 1L, 89L), (2L, 2L, 178L),
          (3L, 0L, 267L), (4L, 1L, 356L), (5L, 2L, 445L), (6L, 0L, 22L),
          (7L, 1L, 111L))
        .toDF("shard", "pack_idx", "used")
      graft.ops.CuratePipeline.curateIncremental(
          d.filter(col("doc_id") % 3 =!= 0),
          graft.ops.Dedup.fingerprintIndex(history),
          d.filter(col("doc_id") % 37 === 0),
          prior, budget = 512, nShards = 8, seed = 7)
        .select("doc_id", "source", "quality_score", "n_tokens", "shard",
          "pack_idx", "pack_offset")
        .orderBy("doc_id")
    }),
    // distributed BPE vocabulary induction: the learned merge table
    // (step, pair, weighted count) — integer-exact, so the oracle replays
    // all 10 merge rounds including the greedy one-pass apply
    "t_bpe" -> ((s, dir) =>
      graft.ops.Bpe.learnMerges(docs(s, dir), nMerges = 10).orderBy("step")),
    // native greedy longest-match subword tokenizer (trie max-munch with
    // <unk> char fallback) — per-doc piece/unknown counts; the oracle
    // replays max-munch with a recursive CTE over the same vocabulary
    "t_subword" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          graft.ops.Cols.bindOnce(
            graft.functions.SubwordExpr.subwordPieces(
              lower(trim(col("text"))), SubVocab)) { ps =>
            struct(
              size(ps).cast("long").as("n_pieces"),
              size(filter(ps, p => p === lit("<unk>"))).cast("long").as("n_unk"))
          }.as("st"))
        .select(col("doc_id"), col("st.n_pieces").as("n_pieces"),
          col("st.n_unk").as("n_unk"))
        .orderBy("doc_id")),
    // corpus piece-frequency under the same tokenizer (explode over the
    // native expression's array output), top 20 by (count, piece)
    "t_subword_freq" -> ((s, dir) =>
      docs(s, dir).select(explode(
          graft.functions.SubwordExpr.subwordPieces(
            lower(trim(col("text"))), SubVocab)).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("piece")).limit(20)),
    // count-min sketch (3 x 512 cells) frequency estimates for every
    // distinct token, next to exact counts — est >= exact always, equal
    // unless a key collides in all 3 rows; the cells merge by addition
    // (asserted in SketchesSuite) and the whole sketch is one <=1536-row
    // shuffle after map-side combine
    "t_cms" -> ((s, dir) => {
      val toks = docs(s, dir).select(explode(split(
          lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
        .filter(length(col("tok")) >= 1)
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      // sketch from the exact counts this validation query computes anyway
      // (bit-identical cells to sketching raw occurrences — SketchesSuite
      // fence): the corpus tokenize runs ONCE, feeding the exact aggregate,
      // and all three consumers reuse its exchange (the raw-occurrence
      // cmsSketch remains the one-pass/streaming path where no exact
      // aggregate exists). The probe CARRIES the exact count through its
      // groupBy (cmsEstimateCarry, r13): the old est-to-exact self-join
      // re-derived `exact.select("tok")` as a distinct whose exchange
      // could not be reused — a second full corpus scan + tokenize in the
      // physical plan — and paid a join for a column the probe input
      // already had. Row-identical (SketchesSuite fence), one corpus pass.
      val sketch = graft.ops.Sketches.cmsSketchWeighted(exact, "tok", "exact",
        depth = 3, width = 512)
      graft.ops.Sketches.cmsEstimateCarry(sketch, exact, "tok", Seq("exact"),
          depth = 3, width = 512)
        .select("tok", "exact", "est")
        .orderBy("tok")
    }),
    // char-trigram familiarity vs a trusted reference slice (src0-3): the
    // integer-exact analogue of KenLM perplexity filtering — low
    // n_known/n_tri flags gibberish/wrong-language text, and unlike a
    // log-prob score it hash-replays exactly
    "t_trigram" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.trigramFamiliarity(d,
          d.filter(col("source").isin("src0", "src1", "src2", "src3")), cap = 100)
        .orderBy("doc_id")
    }),
    // model-based filtering (fastText-classifier analogue): multinomial
    // Naive Bayes trained on the corpus's own lang label. Counts are exact
    // integers; each weight is ONE ln of an exactly-represented rational,
    // micro-scaled to BIGINT, so per-doc scores are order-free integer sums
    "t_nb_model" -> ((s, dir) =>
      Classifier.trainNaiveBayes(docs(s, dir), col("lang") === "en",
          minCount = 2)
        .orderBy("token")),
    "t_nb_score" -> ((s, dir) =>
      // fused train-and-score (r14 verdict task 2): the training explode
      // carries the class prior out of its own pass (per-doc NULL-token
      // terminator), so the pipeline is ONE training corpus pass + ONE
      // zero-exchange scoring projection — fenced bit-identical against
      // the composed trainNaiveBayes + scoreNaiveBayes chain
      Classifier.trainAndScoreNaiveBayes(docs(s, dir), col("lang") === "en",
          minCount = 2)
        .orderBy("doc_id")),
    // CCNet-lineage perplexity filter: add-one-smoothed bigram LM trained
    // on the corpus itself; per-doc NLL is an order-free integer sum of
    // micronats, the mean an integer division — fully replayable
    "t_lm_model" -> ((s, dir) => {
      val d = docs(s, dir)
      val uni = LangModel.unigramCounts(d, minCount = 2)
      LangModel.trainBigramLm(d, uni, minCount = 2).orderBy("w1", "w2")
    }),
    "t_lm_score" -> ((s, dir) =>
      // fused pipeline (r12 verdict task 1): ONE corpus explode + ONE
      // corpus-sized shuffle trains the model, scoring is a broadcast-probe
      // projection with zero exchanges — fenced bit-identical against the
      // composed unigramCounts+trainBigramLm+scoreBigramLm chain
      LangModel.scoreBigramLmFused(docs(s, dir)).orderBy("doc_id")),
    // deterministic signal columns — every ratio + the composite score has a
    // closed-form DuckDB mirror (IEEE-identical arithmetic on both sides)
    "t_analysis" -> ((s, dir) =>
      TextAnalysis.analyze(docs(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("punct_ratio"), col("digit_ratio"), col("upper_ratio"),
          col("mean_word_len"), col("stopword_ratio"), col("quality_score"))
        .orderBy("doc_id")),
    // Corpus-quality dashboard (round-8 verdict stretch item 9): the
    // monitoring rollup a training-data team keeps on screen — per
    // (source, lang): volume, exact distinct + HLL-sketched distinct,
    // dup rate, token volume and median, and an integer-exact quality
    // aggregate. Composes TextStats + the exact-dedup normalization +
    // the grouped HLL sketch: three map-side-combined scans (stat scan,
    // register scan, and — since the round-10 hardening replaced
    // median() with rank interpolation — a (group, ntok)-count scan)
    // joined on the tiny group space — at 100 TB this shuffles per-group
    // scalars, 256-row register tables, and per-group token-count
    // distributions, never documents. The streaming twin of this rollup
    // is the corpus-quality monitor in streaming/ (convergence-gated in
    // StreamingSuite).
    "t_dashboard" -> ((s, dir) => {
      val agg = dashBase(s, dir).groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("__norm")).as("n_distinct"),
        sum("__ntok").as("total_tokens"),
        sum("__qi").as("__qsum"))
      val est = graft.ops.Sketches.hllEstimate(
        graft.ops.Sketches.hllRegisters(dashBase(s, dir).select("source", "lang", "__norm"),
          "__norm", p = 8, groupCols = Seq("source", "lang")),
        p = 8, groupCols = Seq("source", "lang"), scaledRound = true)
      agg.join(est, Seq("source", "lang")).join(dashMedian(s, dir), Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_distinct"),
          // round(…, 6) finals decomposed into integer-scaled arithmetic
          // (q_histq discipline): one IEEE multiply-round on each side,
          // then division by the same power of ten — the intermediate is
          // an exact BIGINT, so both engines derive the final double from
          // the same integer. round(x, 6) itself is implementation-defined
          // at halfway points and is the remaining version-risk class
          // after r9 disproved the integer-median hypothesis.
          (round((col("n_docs") - col("n_distinct")) * lit(1000000.0) / col("n_docs"))
            .cast("long") / lit(1000000.0)).as("dup_rate"),
          col("est").as("distinct_est"), col("total_tokens"), col("med_tokens"),
          (round(col("__qsum") * lit(100.0) / col("n_docs")).cast("long") / lit(1000000.0))
            .as("avg_quality"))
        .orderBy("source", "lang")
    }),
    // ---- t_dashboard bisect census (rounds 10-11, twins RETIRED in r12):
    // the dashboard family was red on the driver's hash check for three
    // rounds while every local replay was zero-diff. Five single-column
    // twins (t_dash_counts/med/tok/est/qual) isolated the drift to the
    // bare-SUM output columns, and the root cause was TYPE, not value:
    // DuckDB SUM(BIGINT) returns HUGEINT and the driver hash is
    // type-sensitive — fixed by CAST(… AS BIGINT) on the oracle side
    // (r11). The float twins are retired now the family is green;
    // t_dash_ints below stays permanently as the type-sensitivity canary
    // (it carries every exact BIGINT intermediate with no doubles anywhere,
    // so any future engine-vs-oracle TYPE drift on integer chains trips it
    // before a 9-column hash hides the column).
    // the ORTHOGONAL bisect axis: every exact BIGINT intermediate behind
    // the dashboard's computed columns, with NO doubles anywhere — the
    // integer quality sum, both median rank picks, and the HLL register
    // sum/count. Green here + red float columns isolates the drift to the
    // final double rounding; red here means the integer chain itself
    // differs in the driver's environment (which t_analysis's green per-doc
    // rows would make very strange indeed).
    "t_dash_ints" -> ((s, dir) => {
      val agg = dashBase(s, dir).groupBy("source", "lang").agg(
        sum("__qi").as("qsum"))
      val reg = graft.ops.Sketches.hllRegisters(
          dashBase(s, dir).select("source", "lang", "__norm"),
          "__norm", p = 8, groupCols = Seq("source", "lang"))
        .groupBy("source", "lang")
        .agg(sum(expr("CAST(pow(2.0, 40 - rho) AS LONG)")).as("s_obs"),
          count(lit(1)).as("n_obs"))
      agg.join(dashMedianParts(s, dir), Seq("source", "lang"))
        .join(reg, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("qsum"),
          col("__mlo").as("mlo"), col("__mhi").as("mhi"),
          col("s_obs"), col("n_obs"))
        .orderBy("source", "lang")
    }),
    // the xxhash64 fingerprint column has no DuckDB equivalent — rows-only;
    // lang_pred accuracy vs the dataset's lang label is gated in
    // PipelineGatesSuite, and the language-ID half is oracle-checked via
    // the t_lang twin below
    "t_lang_fp" -> ((s, dir) =>
      TextAnalysis.analyze(docs(s, dir))
        .select("doc_id", "lang_pred", "doc_fingerprint")
        .orderBy("doc_id")),
    // language ID alone IS oracle-checkable: the marker patterns are
    // RE2-compatible literals, and the argmax tie-break (max score, then
    // lexicographically greatest language — Spark's struct array_max) is
    // replayed in the oracle's CASE ladder
    "t_lang" -> ((s, dir) =>
      TextAnalysis.analyze(docs(s, dir))
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")),
    // winnowing (rolling-hash) fingerprint sets — xxhash64-based, so
    // rows-only; overlap behavior is gated in PipelineGatesSuite
    "t_winnow" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          size(TextAnalysis.winnowFingerprints(col("text"))).as("n_fingerprints"))
        .orderBy("doc_id")),
    // polynomial-hash winnowing twin: the gram hash is replayable in the
    // oracle, so the winnowing ALGORITHM (gram extraction, window-min
    // selection, distinct) is hash-checked exactly — set-level evidence via
    // count/min/max/sum of each doc's fingerprint set
    "t_winnow_poly" -> ((s, dir) => {
      val fps = TextAnalysis.winnowFingerprintsPoly(col("text"))
      docs(s, dir)
        .select(col("doc_id"), fps.as("__fps"))
        .select(col("doc_id"),
          size(col("__fps")).cast("long").as("n_fp"),
          coalesce(array_min(col("__fps")), lit(0L)).as("fp_min"),
          coalesce(array_max(col("__fps")), lit(0L)).as("fp_max"),
          aggregate(col("__fps"), lit(0L), (a, x) => a + x).as("fp_sum"))
        .orderBy("doc_id")
    }),
    // corpus vocabulary (top tokens by frequency, deterministic tie-break)
    "t_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), topN = 100)),
    "t_bigrams" -> ((s, dir) =>
      TextAnalysis.ngramFrequencies(docs(s, dir), n = 2, topN = 100)),
    // REAL compressed-codec path (JDK javax.imageio, no external libs): the
    // deterministic gradient raster goes through a genuine PNG encode ->
    // decode; PNG is lossless, so metadata and pixel sums have closed forms
    "mm_media_meta" -> ((s, dir) =>
      Multimodal.imageMediaMeta(
          Multimodal.demoPngTable(docs(s, dir)), "blob", "doc_id")
        .orderBy("doc_id")),
    "mm_features" -> ((s, dir) =>
      Multimodal.imageCellSums(
          Multimodal.demoPngTable(docs(s, dir)), "blob", "doc_id", grid = 4)
        .orderBy("doc_id", "cell")),
    // PII scrub before corpus entry: the synthetic corpus carries no PII, so
    // identical PII-shaped suffixes are appended IN SQL on both sides — the
    // oracle replays the same concat and the same RE2-safe replace chain,
    // and the unmodified body doubles as the false-positive fence
    "t_redact" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.redactPii(concat(col("text"),
            lit(" contact: user"), col("doc_id").cast("string"),
            lit("@example.com, ssn 123-45-6789, call 415 555-0199, host 10.0.0."),
            pmod(col("doc_id"), lit(256)).cast("string"))).as("redacted"))
        .orderBy("doc_id")),
    // pre-tokenization cleanup: the corpus is already clean, so a messy
    // suffix (controls, zero-widths, tab runs, blank-line stacks) is
    // appended IN SQL on both sides and the identical RE2-safe replace
    // chain must restore a canonical form; the unmodified body doubles as
    // the no-op fence
    "t_clean" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.cleanText(concat(col("text"),
            lit(" \t\t mid\u0007dle\u200B \n\n\n\n tail  "))).as("clean_text"))
        .orderBy("doc_id")),
    // Gopher-family repetition signals, computed relationally (one token
    // shuffle with partial counts, not per-row O(n^2) HOFs)
    "t_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir)).orderBy("doc_id")),
    // Okapi BM25 against a fixed 3-term query (one common, one mid, one
    // rare term): per-term contributions summed in FIXED order so the
    // double score is bit-identical to the oracle's mirrored expression
    "t_bm25" -> ((s, dir) =>
      Relevance.bm25(docs(s, dir), Seq("join", "vector", "dup"), topK = 20)),
    // per-document top-3 TF-IDF terms (min df 2, ties by term)
    "t_tfidf" -> ((s, dir) =>
      Relevance.tfidfTopTerms(docs(s, dir), perDoc = 3, minDf = 2)
        .orderBy("doc_id", "rank")),
    // deterministic Lloyd k-means over the embeddings: integer-quantized
    // accumulation makes every cross-row sum exact (partition-order
    // independent AND oracle-replayable); one update round + final assign
    "c_kmeans" -> ((s, dir) =>
      Clustering.kmeans(emb(s, dir), k = 8, iters = 1).orderBy("vec_id")),
    // two-level k-means (the large-k SemDeDup escape, round 9): kSuper=2
    // coarse cells then kInner=4 inner centroids per cell — small enough
    // that the oracle replays the whole chain (coarse Lloyd round, cell
    // assignment, per-cell rank init, inner round, final assignment) in
    // the same exact integer/double arithmetic as c_kmeans
    "c_kmeans2l" -> ((s, dir) =>
      Clustering.kmeansTwoLevel(emb(s, dir), kSuper = 2, kInner = 4, iters = 1)
        .orderBy("vec_id")),
    // gap-based sessionization over the events table: the 30-min gap rule
    // runs on integer MICROSECONDS (eventsWithTus == DuckDB's epoch_us
    // whichever parquet timestamp width the driver generated), ties broken
    // by event_id on both sides
    // as-of join (DuckDB ASOF JOIN semantics): even events enriched with
    // the latest odd event at-or-before them, per user. One key shuffle,
    // no join operator (union + running-last) — plan asserted in suite.
    "e_asof" -> ((s, dir) => {
      val e = eventsWithTus(s, dir)
        .select("user_id", "event_id", "value", "tus")
      AsOfJoin.leftAsOf(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "user_id", "tus", "event_id", "value")
        .select(col("event_id"), col("user_id"), col("tus"),
          col("matched_id").as("matched_event"),
          round(col("matched_value"), 4).as("matched_value"))
        .orderBy("event_id")
    }),
    // range join via bin bucketing (equi-shuffle, never a nested loop):
    // points = even events, intervals = 10 minutes after each odd event
    "e_range" -> ((s, dir) => {
      val e = eventsWithTus(s, dir)
      val pts = e.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("tus"))
      val ivs = e.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("iv_id"), col("tus").as("lo"),
          (col("tus") + lit(600000000L)).as("hi"))
      RangeJoin.pointInInterval(pts, ivs, "tus", "lo", "hi",
          binWidth = 600000000L, keys = Seq("user_id"))
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_pts"),
          min("event_id").as("first_event"), max("event_id").as("last_event"))
        .orderBy("iv_id")
    }),
    "e_sessions" -> ((s, dir) => {
      Sessions.sessionStats(
          eventsWithTus(s, dir),
          "user_id", "tus", "event_id", "value", gap = 30L * 60 * 1000000)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_ts").as("start_us"), col("end_ts").as("end_us"),
          round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_seq")
    }),
    // REAL image decode (Netpbm P6): blobs are deterministic synthetic
    // gradients, so the decoded per-channel means have a closed form the
    // oracle recomputes in SQL — the full generate->decode->reduce path is
    // hash-gated, not rows-only
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeImages(
          Multimodal.demoImageTable(docs(s, dir)), "blob", "doc_id")
        .orderBy("doc_id")),
    // REAL audio decode (RIFF/WAVE PCM16): blobs are deterministic
    // synthetic sawtooths, so the full container-parse -> PCM reduce path
    // is hash-gated against a closed-form oracle; every feature column is
    // integer arithmetic (peak, zero crossings, abs/squared energy)
    "mm_audio" -> ((s, dir) =>
      Multimodal.audioFeatures(
          Multimodal.demoWavTable(docs(s, dir)), "blob", "doc_id")
        .orderBy("doc_id")),
    // REAL video decode (YUV4MPEG2 4:2:0): header parse, per-frame marker
    // walk and plane offsets are all exercised; per-plane byte sums are
    // integer-exact against the synthetic clip's closed form
    "mm_video" -> ((s, dir) =>
      Multimodal.videoFeatures(
          Multimodal.demoY4mTable(docs(s, dir)), "blob", "doc_id")
        .orderBy("doc_id")),
    // REAL frame sampling: decode the clip, keep every 2nd frame, one row
    // per kept frame with its exact luma sum — the frame-dataset explode
    // shape with genuine decode behind it
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFramesReal(
          Multimodal.demoY4mTable(docs(s, dir)), "blob", "doc_id", step = 2)
        .orderBy("doc_id", "frame_index"))
  )

  // ------------------------------------------------------------ oracles

  /** Replays Bpe.learnMerges in DuckDB: chained CTE stages, one per merge
    * round. Each round counts adjacent symbol pairs weighted by word
    * frequency, takes the (n DESC, l, r) argmax, and applies the greedy
    * one-pass merge NON-recursively: consecutive match positions form
    * overlap runs, and greedy left-to-right keeps exactly the odd ranks
    * of each run (1st, 3rd, ...).
    */
  private def bpeOracleSql(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
      |    (SELECT unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS word FROM documents)
      |  WHERE length(word) BETWEEN 1 AND 20 GROUP BY word
      |  ORDER BY freq DESC, word LIMIT 2000),
      |s0 AS MATERIALIZED (SELECT word, freq, list_transform(range(1, length(word)+1), i -> word[i:i]) AS syms FROM w0)""".stripMargin
    for (k <- 1 to nMerges) {
      val prev = s"s${k - 1}"
      sb ++= s""",
        |p$k AS (
        |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS n
        |  FROM $prev, unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |b$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1)""".stripMargin
      if (k < nMerges) sb ++= s""",
        |m$k AS (SELECT word, i FROM (SELECT word, syms, unnest(range(1, len(syms))) AS i FROM $prev) q, b$k
        |       WHERE q.syms[i] = b$k.l AND q.syms[i+1] = b$k.r),
        |r$k AS (SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM m$k),
        |sel$k AS (SELECT word, list(i ORDER BY i) AS sel FROM (
        |    SELECT word, i, grp, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rk FROM r$k) q
        |  WHERE rk % 2 = 1 GROUP BY word),
        |s$k AS MATERIALIZED (SELECT $prev.word, $prev.freq,
        |   CASE WHEN sel IS NULL THEN syms ELSE
        |     list_filter(list_transform(range(1, len(syms)+1), i ->
        |       CASE WHEN list_contains(sel, i) THEN syms[i] || syms[i+1]
        |            WHEN list_contains(sel, i-1) THEN NULL
        |            ELSE syms[i] END), x -> x IS NOT NULL) END AS syms
        |   FROM $prev LEFT JOIN sel$k USING (word))""".stripMargin
    }
    sb ++= "\n"
    sb ++= (1 to nMerges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS step, l AS lft, r AS rgt, n FROM b$k").mkString("", "\nUNION ALL\n", "\nORDER BY step")
    sb.result()
  }

  /** Shared oracle CTEs for the dashboard family: the t_analysis signal
    * chain (t) and the per-document frame (r: group keys, d_exact
    * normalization, BIGINT token count, integer 1e-4 quality). One Scala
    * constant feeds t_dashboard AND its five bisect twins so the six
    * oracles cannot drift from each other.
    */
  private val dashSignalCtes: String =
    """t AS (
      |  SELECT source, lang,
      |    lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm,
      |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE) AS w,
      |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_len,
      |    CAST(length(text) AS DOUBLE) AS len,
      |    CAST(length(text) - length(translate(text, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '')) AS DOUBLE) AS n_punct,
      |    CAST(length(text) - length(translate(text, '0123456789', '')) AS DOUBLE) AS n_digit,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) AS stop_hits
      |  FROM documents),
      |r AS (
      |  SELECT source, lang, norm, CAST(w AS BIGINT) AS ntok,
      |    CAST(round(round((least(w / 50.0, 1.0)
      |       + (1.0 - least(n_punct / safe_len * 4.0, 1.0))
      |       + (1.0 - least(n_digit / safe_len * 4.0, 1.0))
      |       + (CASE WHEN len / greatest(w, 1.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.4 END)
      |       + least(stop_hits / greatest(w, 1.0) * 3.0, 1.0)) / 5.0, 4) * 10000) AS BIGINT) AS qi
      |  FROM t)""".stripMargin

  /** The grouped q_hll_est register chain over r.norm (p=8), sans the
    * final estimate CTE (the integer-scaled estimate variant below feeds
    * the hardened t_dashboard; t_dash_ints reads the registers directly).
    */
  private val dashHllCommon: String =
    """h AS (
      |  SELECT source, lang, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(1, greatest(length(norm), 1)),
      |             j -> CAST(ascii(substr(norm, CAST(j AS INT), 1)) AS BIGINT))),
      |           (a, c) -> (a * 31 + c) % 9007199254740881) AS h
      |  FROM r),
      |rh AS (SELECT source, lang, h % 256 AS idx, LEAST(COALESCE(
      |         list_filter(generate_series(1, 46),
      |           b -> (((h // 256) // (CAST(1 AS BIGINT) << (b - 1))) % 2) = 1)[1],
      |         46), 40) AS rho FROM h),
      |reg AS (SELECT source, lang, idx, MAX(rho) AS rho FROM rh GROUP BY 1, 2, 3),
      |s AS (SELECT source, lang,
      |        CAST(SUM(CAST(1 AS BIGINT) << (40 - rho)) AS BIGINT) AS s_obs,
      |        COUNT(*) AS n_obs FROM reg GROUP BY 1, 2)""".stripMargin

  private val dashHllCtesScaled: String = dashHllCommon + ",\n" +
    """e AS (SELECT source, lang,
      |        CAST(round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 1099511627776.0
      |          / CAST(s_obs + (256 - n_obs) * 1099511627776 AS DOUBLE) * 1000) AS BIGINT)
      |          / 1000.0 AS est
      |      FROM s)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "t_bpe" -> bpeOracleSql(10),
    "m_agg_basic" ->
      s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_agg_twodim" ->
      ("SELECT l_returnflag, l_linestatus, round(SUM(l_quantity), 2) AS qty, COUNT(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "m_agg_where" ->
      ("SELECT l_returnflag, round(SUM(l_quantity), 2) AS qty FROM lineitem " +
        "WHERE year(l_shipdate) >= 1998 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_agg_count" ->
      "SELECT o_orderpriority, COUNT(*) AS order_cnt FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "m_setop_view" ->
      ("""WITH u AS (
        |  SELECT o_orderpriority AS pri, o_totalprice AS price FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice FROM orders WHERE o_totalprice > 150000)
        |SELECT pri, round(SUM(price), 2) AS rev, COUNT(*) AS cnt
        |FROM u GROUP BY pri ORDER BY pri""".stripMargin),
    "m_setop_at" ->
      ("""WITH u AS (
        |  SELECT o_orderpriority AS pri, o_totalprice AS price FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice FROM orders WHERE o_totalprice > 150000)
        |SELECT pri, round((SELECT SUM(price) FROM u), 2) AS total,
        |  round((SELECT SUM(price) FROM u WHERE price > 200000), 2) AS big
        |FROM (SELECT DISTINCT pri FROM u) d ORDER BY pri""".stripMargin),
    "m_avg" ->
      "SELECT l_linestatus, round(AVG(l_extendedprice), 4) AS avg_price FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus",
    "m_at_all_pct" ->
      (s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue, " +
        s"round(100.0 * SUM($rev) / (SELECT SUM($rev) FROM lineitem), 4) AS pct " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_at_all_dim" ->
      (s"SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag, round(SUM($rev), 2) AS revenue, " +
        s"round(SUM(SUM($rev)) OVER (PARTITION BY year(l_shipdate)), 2) AS year_total " +
        "FROM lineitem GROUP BY year(l_shipdate), l_returnflag ORDER BY ship_year, l_returnflag"),
    "m_at_set_yoy" ->
      (s"WITH y AS (SELECT CAST(year(l_shipdate) AS INT) AS ship_year, round(SUM($rev), 2) AS revenue " +
        "FROM lineitem GROUP BY year(l_shipdate)) " +
        "SELECT t.ship_year, t.revenue, p.revenue AS prior_year FROM y t " +
        "LEFT JOIN y p ON p.ship_year = t.ship_year - 1 ORDER BY t.ship_year"),
    "m_at_where" ->
      (s"SELECT CAST(year(l_shipdate) AS INT) AS ship_year, " +
        s"(SELECT round(SUM($rev), 2) FROM lineitem WHERE l_returnflag = 'R') AS r_rev " +
        "FROM lineitem GROUP BY year(l_shipdate) ORDER BY ship_year"),
    "m_visible" ->
      (s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue FROM lineitem " +
        "WHERE l_linestatus = 'F' GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_chained_all" ->
      ("SELECT l_returnflag, l_linestatus, (SELECT round(SUM(l_quantity), 2) FROM lineitem) AS total_qty " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "m_derived" ->
      (s"SELECT l_returnflag, round(SUM($rev) - SUM(l_extendedprice * l_tax), 2) AS net_rev " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_countdistinct" ->
      "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS parts FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_median" ->
      "SELECT l_returnflag, round(MEDIAN(l_quantity), 2) AS med_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_rollup" ->
      (s"SELECT l_returnflag, CASE WHEN GROUPING(l_returnflag) = 1 THEN NULL ELSE round(SUM($rev), 2) END AS revenue " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag) ORDER BY l_returnflag NULLS FIRST"),
    "m_groupingsets" ->
      (s"SELECT l_returnflag, l_linestatus, CASE WHEN GROUPING(l_returnflag) = 1 OR GROUPING(l_linestatus) = 1 " +
        s"THEN NULL ELSE round(SUM($rev), 2) END AS revenue " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "m_multifact" ->
      (s"SELECT o.yr, o.total_price, l.li_rev FROM " +
        "(SELECT CAST(year(o_orderdate) AS INT) AS yr, round(SUM(o_totalprice), 2) AS total_price FROM orders GROUP BY year(o_orderdate)) o " +
        s"JOIN (SELECT CAST(year(l_shipdate) AS INT) AS yr, round(SUM($rev), 2) AS li_rev FROM lineitem GROUP BY year(l_shipdate)) l " +
        "ON o.yr = l.yr ORDER BY o.yr"),
    "m_window" ->
      ("SELECT CAST(year(l_shipdate) AS INT) AS yr, round(SUM(l_quantity), 2) AS yr_qty " +
        "FROM lineitem GROUP BY year(l_shipdate) ORDER BY yr"),
    "m_union" ->
      (s"SELECT l_returnflag AS k, round(SUM($rev), 2) AS v FROM lineitem GROUP BY l_returnflag " +
        s"UNION ALL SELECT l_linestatus, round(SUM($rev), 2) FROM lineitem GROUP BY l_linestatus " +
        "ORDER BY k, v"),
    // DuckDB has native QUALIFY — the oracle uses it directly
    "m_qualify" ->
      ("SELECT ship_year, l_returnflag, year_qty FROM " +
        "(SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag, round(SUM(l_quantity), 2) AS year_qty " +
        "FROM lineitem GROUP BY 1, 2) " +
        "QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY year_qty DESC, ship_year) <= 2 " +
        "ORDER BY l_returnflag, year_qty DESC, ship_year"),
    "q_qualify" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1 " +
        "ORDER BY o_custkey LIMIT 500"),
    "m_stddev" ->
      "SELECT l_returnflag, round(STDDEV(l_quantity), 4) AS sd_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_minmax" ->
      ("SELECT l_returnflag, round(MIN(l_extendedprice), 2) AS min_price, round(MAX(l_extendedprice), 2) AS max_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_filter_measure" ->
      ("SELECT l_returnflag, round(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_case_measure" ->
      ("SELECT l_returnflag, round(SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END), 2) AS big_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_mode" ->
      ("SELECT l_returnflag, mode(l_linenumber) AS mode_line " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_string_agg" ->
      ("SELECT l_returnflag, string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_ctas" ->
      "SELECT l_returnflag, round(SUM(l_quantity), 2) AS qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_curly" ->
      (s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue, " +
        s"round(SUM($rev) / COUNT(*), 4) AS rev_per_item " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_bare_default" ->
      (s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_at_all_expr" ->
      (s"SELECT CAST(year(l_shipdate) AS INT) AS yr, round(SUM($rev), 2) AS revenue, " +
        s"(SELECT round(SUM($rev), 2) FROM lineitem) AS total " +
        "FROM lineitem GROUP BY year(l_shipdate) ORDER BY yr"),
    "m_at_set_expr" ->
      (s"SELECT CAST(month(l_shipdate) AS INT) AS mo, round(SUM($rev), 2) AS revenue, " +
        s"(SELECT round(SUM($rev), 2) FROM lineitem WHERE month(l_shipdate) = 3) AS march_rev " +
        "FROM lineitem GROUP BY month(l_shipdate) ORDER BY mo"),
    "m_percentile_cont" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_percentile_disc" ->
      ("SELECT l_returnflag, round(quantile_disc(l_extendedprice, 0.25), 2) AS p25d_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_quantile_cont" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.75), 4) AS q75_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_quantile_disc" ->
      ("SELECT l_returnflag, round(quantile_disc(l_quantity, 0.5), 2) AS q50d_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_corr" ->
      ("SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS qp_corr, " +
        "round(covar_samp(l_quantity, l_extendedprice), 4) AS qp_covar " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_regr_slope" ->
      ("SELECT l_returnflag, round(regr_slope(l_extendedprice, l_quantity), 6) AS price_slope " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_bool" ->
      ("SELECT l_returnflag, bool_and(l_quantity > 5) AS all_big, bool_or(l_discount > 0.09) AS any_bigdisc " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_moments" ->
      ("SELECT l_returnflag, round(kurtosis(l_quantity), 6) AS q_kurt, round(skewness(l_quantity), 6) AS q_skew " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_qualified_read" ->
      ("SELECT l_returnflag, SUM(l_quantity) AS perm_qty, SUM(l_quantity * 100) AS temp_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the warning text is engine-defined but deterministic; the oracle pins
    // it as a literal so the driver hash-checks the warning surface
    "m_warnings" ->
      ("SELECT 1 AS pos, 'AT (ALL) over measure revenue: outer WHERE filter on ungrouped " +
        "dimension(s) ship_year does not apply inside the AT context; " +
        "add AT (WHERE ...), AT (SET ...) or VISIBLE to re-pin it' AS warning"),
    "m_bitxor" ->
      ("SELECT l_returnflag, bit_xor(l_partkey) AS key_xor FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_first" ->
      ("SELECT l_returnflag, round(min_by(l_extendedprice, l_orderkey * 10 + l_linenumber), 2) AS first_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_last" ->
      ("SELECT l_returnflag, round(max_by(l_extendedprice, l_orderkey * 10 + l_linenumber), 2) AS last_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_batch_tempview" ->
      (s"SELECT l_returnflag, round(SUM($rev), 2) AS revenue FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_drop_recreate" ->
      ("SELECT l_returnflag, round(AVG(l_quantity), 4) AS avg_qty FROM lineitem " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_current" ->
      (s"SELECT l_returnflag, (SELECT round(SUM($rev), 2) FROM lineitem WHERE year(l_shipdate) = 1998) AS prior_rev " +
        "FROM lineitem WHERE year(l_shipdate) = 1999 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_at_all_where" ->
      (s"SELECT l_returnflag, (SELECT round(SUM($rev), 2) FROM lineitem WHERE year(l_shipdate) = 1998) AS rev_1998 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_derived_at" ->
      (s"SELECT l_returnflag, round(SUM($rev) - SUM(l_extendedprice * l_tax), 2) AS net_rev, " +
        s"(SELECT round(SUM($rev) - SUM(l_extendedprice * l_tax), 2) FROM lineitem) AS total_net " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "m_rowlevel_where" ->
      ("SELECT o.l_orderkey, o.l_linenumber FROM lineitem o " +
        "WHERE o.l_quantity > (SELECT AVG(i.l_quantity) FROM lineitem i WHERE i.l_returnflag = o.l_returnflag) " +
        "AND o.l_orderkey <= 640 ORDER BY o.l_orderkey, o.l_linenumber"),
    "m_where_grouped" ->
      ("SELECT o.l_returnflag, COUNT(*) AS n, round(AVG(o.l_quantity), 4) AS filtered_avg FROM lineitem o " +
        "WHERE o.l_quantity > (SELECT AVG(i.l_quantity) FROM lineitem i WHERE i.l_returnflag = o.l_returnflag) " +
        "GROUP BY o.l_returnflag ORDER BY o.l_returnflag"),
    "m_multifact_where" ->
      (s"""WITH fo AS (
         |  SELECT yr, o_totalprice FROM (
         |    SELECT CAST(year(o_orderdate) AS INT) AS yr, o_totalprice,
         |           AVG(o_totalprice) OVER (PARTITION BY year(o_orderdate)) AS yavg
         |    FROM orders) t WHERE o_totalprice > yavg),
         |fo_agg AS (SELECT yr, round(SUM(o_totalprice), 2) AS total_price FROM fo GROUP BY yr),
         |li_agg AS (SELECT CAST(year(l_shipdate) AS INT) AS yr, round(SUM($rev), 2) AS li_rev
         |           FROM lineitem GROUP BY year(l_shipdate))
         |SELECT f.yr, f.total_price, l.li_rev
         |FROM fo_agg f JOIN li_agg l ON f.yr = l.yr ORDER BY f.yr""".stripMargin),
    "q_exists" ->
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_not_exists" ->
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_in_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000 ORDER BY k LIMIT 50""".stripMargin,
    "q_tpch1" ->
      (s"""SELECT l_returnflag, l_linestatus, round(SUM(l_quantity), 2) AS sum_qty,
          |round(SUM(l_extendedprice), 2) AS sum_base_price, round(SUM($rev), 2) AS sum_disc_price,
          |round(SUM($rev * (1 + l_tax)), 2) AS sum_charge, round(AVG(l_quantity), 4) AS avg_qty,
          |round(AVG(l_extendedprice), 4) AS avg_price, round(AVG(l_discount), 6) AS avg_disc,
          |COUNT(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_join_agg" ->
      """SELECT n.n_name, round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""".stripMargin,
    "q_window_fn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status, round(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_flag, g_status""".stripMargin,
    "q_setop" ->
      """SELECT 'orders' AS src, COUNT(*) AS n FROM orders
        |UNION ALL SELECT 'lineitem' AS src, COUNT(*) AS n FROM lineitem ORDER BY src""".stripMargin,
    "q_scalar_fns" ->
      """SELECT o_orderpriority, UPPER(o_orderstatus) AS status_u, COUNT(*) AS n,
        |round(SUM(CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0 END), 2) AS big_total,
        |MIN(SUBSTR(o_orderpriority, 1, 1)) AS pri_prefix
        |FROM orders GROUP BY o_orderpriority, UPPER(o_orderstatus)
        |ORDER BY o_orderpriority, status_u""".stripMargin,
    "q_filter_agg" ->
      """SELECT l_returnflag, COUNT(*) FILTER (WHERE l_quantity > 25) AS big_cnt,
        |round(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_topk" ->
      "SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_events" ->
      "SELECT event_type, COUNT(*) AS n, round(AVG(value), 4) AS avg_value FROM events GROUP BY event_type ORDER BY event_type",
    "q_datetrunc" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n
        |FROM orders GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE) ORDER BY month""".stripMargin,
    "d_exact" ->
      ("SELECT source, COUNT(*) AS n_docs, " +
        "COUNT(*) - COUNT(DISTINCT lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS n_dups " +
        "FROM documents GROUP BY source ORDER BY source"),
    // mirrors Dedup.incrementalDedup on the normalized text (the engine
    // joins 64-bit fingerprints of the same normalization)
    "d_incremental" ->
      ("""WITH f AS (
        |  SELECT doc_id, source, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents),
        |hist AS (SELECT DISTINCT norm FROM f WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, source, norm,
        |    min(doc_id) OVER (PARTITION BY norm) AS k
        |  FROM f WHERE doc_id >= 250)
        |SELECT doc_id, source FROM batch
        |WHERE doc_id = k AND norm NOT IN (SELECT norm FROM hist)
        |ORDER BY doc_id""".stripMargin),
    "t_tokens" ->
      ("SELECT doc_id, CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N} \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS n_subwords, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits, " +
        "CAST(length(text) AS BIGINT) AS len_chars FROM documents ORDER BY doc_id"),
    "t_vocab" ->
      ("SELECT token, n FROM (SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS token FROM documents) " +
        "WHERE length(token) >= 1 GROUP BY token) ORDER BY n DESC, token ASC LIMIT 100"),
    "t_redact" ->
      ("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact: user' || doc_id || '@example.com, ssn 123-45-6789, call 415 555-0199, host 10.0.0.' || (doc_id % 256),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[ .-]\d{3}[ .-]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),
    // replays cleanText: same messy suffix (DuckDB e-string escapes ==
    // the Scala literal), same 4-pass RE2 replace chain, same trim
    "t_clean" ->
      ("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || e' \t\t mid\x07dle\u200B \n\n\n\n tail  ',
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
        |    '[ \t]+', ' ', 'g'),
        |    '\n{3,}', e'\n\n', 'g')) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    "t_repetition" ->
      ("""WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM w WHERE length(tok) >= 1 GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  ROUND(1.0 - count(*) / SUM(n), 6) AS dup_frac,
        |  ROUND(MAX(n) / SUM(n), 6) AS top_frac,
        |  ROUND(COALESCE(SUM(CASE WHEN length(tok) > 15 THEN n END), 0) / SUM(n), 6) AS long_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // mirrors Relevance.bm25 literally: same tokenization, same double
    // literals ((1.2 + 1.0) is the constant-folded k1+1 — NOT 2.2, whose
    // nearest double can differ in the last ulp), same association, terms
    // summed in fixed order — so the score is IEEE-identical
    "t_bm25" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
        |    CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf_0,
        |    CAST(len(list_filter(ws, x -> x = 'vector')) AS BIGINT) AS tf_1,
        |    CAST(len(list_filter(ws, x -> x = 'dup')) AS BIGINT) AS tf_2
        |  FROM toks),
        |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dl) AS DOUBLE) AS sumdl FROM base),
        |m AS (SELECT * FROM base WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0),
        |d AS (SELECT CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
        |             CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
        |             CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_2 FROM m),
        |sc AS (
        |  SELECT m.doc_id,
        |    ln(1.0 + (g.n - d.df_0 + 0.5) / (d.df_0 + 0.5)) * (CAST(m.tf_0 AS DOUBLE) * (1.2 + 1.0)) / (CAST(m.tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * m.dl / (g.sumdl / g.n)))
        |  + ln(1.0 + (g.n - d.df_1 + 0.5) / (d.df_1 + 0.5)) * (CAST(m.tf_1 AS DOUBLE) * (1.2 + 1.0)) / (CAST(m.tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * m.dl / (g.sumdl / g.n)))
        |  + ln(1.0 + (g.n - d.df_2 + 0.5) / (d.df_2 + 0.5)) * (CAST(m.tf_2 AS DOUBLE) * (1.2 + 1.0)) / (CAST(m.tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * m.dl / (g.sumdl / g.n))) AS score
        |  FROM m, g, d)
        |SELECT doc_id, ROUND(score, 6) AS bm25 FROM sc
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // replays Clustering.kmeans(k=8, iters=1, scale=1000) step by step:
    // same quantization, same init (ids 0..7), same left-fold distances,
    // same (distance, index) struct-min tie-break, same exact-integer
    // centroid update. dim is pinned at 64 (the testdata embedding width).
    "c_kmeans" ->
      ("""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(vec_id AS INT) AS cidx, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec
        |  FROM q WHERE vec_id < 8),
        |a0 AS (
        |  SELECT q.vec_id, any_value(q.q) AS q,
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |           i -> (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': c0.cidx})).c AS cluster
        |  FROM q, c0 GROUP BY q.vec_id),
        |u1 AS (
        |  SELECT cluster, i, SUM(q[i]) AS s, COUNT(*) AS n
        |  FROM a0, generate_series(1, 64) t(i)
        |  GROUP BY cluster, i),
        |c1 AS (
        |  SELECT cluster AS cidx, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cvec
        |  FROM u1 GROUP BY cluster)
        |SELECT q.vec_id,
        |  CAST((min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |         i -> (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]))),
        |         (a, b) -> a + b),
        |        'c': c1.cidx})).c AS INT) AS cluster
        |FROM q, c1 GROUP BY q.vec_id ORDER BY vec_id""".stripMargin),
    // replays the TWO-LEVEL chain end-to-end with the same exact
    // arithmetic: coarse Lloyd round (kSuper=2) -> cell assignment ->
    // per-cell rank init (ROW_NUMBER over vec_id) -> inner round
    // (kInner=4) -> final assignment; cluster = super * 4 + inner
    "c_kmeans2l" ->
      ("""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(vec_id AS INT) AS cidx, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec
        |  FROM q WHERE vec_id < 2),
        |a0 AS (
        |  SELECT q.vec_id, any_value(q.q) AS q,
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |           i -> (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': c0.cidx})).c AS cluster
        |  FROM q, c0 GROUP BY q.vec_id),
        |u1 AS (
        |  SELECT cluster, i, SUM(q[i]) AS s, COUNT(*) AS n
        |  FROM a0, generate_series(1, 64) t(i) GROUP BY cluster, i),
        |c1 AS (
        |  SELECT cluster AS cidx, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cvec
        |  FROM u1 GROUP BY cluster),
        |cells AS (
        |  SELECT q.vec_id, any_value(q.q) AS q,
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |           i -> (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': c1.cidx})).c AS super
        |  FROM q, c1 GROUP BY q.vec_id),
        |i0 AS (
        |  SELECT super, CAST(rn - 1 AS INT) AS iidx, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec
        |  FROM (SELECT super, q, ROW_NUMBER() OVER (PARTITION BY super ORDER BY vec_id) AS rn FROM cells)
        |  WHERE rn <= 4),
        |b0 AS (
        |  SELECT cells.vec_id, any_value(cells.super) AS super, any_value(cells.q) AS q,
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cells.q)),
        |           i -> (CAST(cells.q[i] AS DOUBLE) - i0.cvec[i]) * (CAST(cells.q[i] AS DOUBLE) - i0.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': i0.iidx})).c AS iidx
        |  FROM cells JOIN i0 USING (super) GROUP BY cells.vec_id),
        |iu AS (
        |  SELECT super, iidx, i, SUM(q[i]) AS s, COUNT(*) AS n
        |  FROM b0, generate_series(1, 64) t(i) GROUP BY super, iidx, i),
        |i1 AS (
        |  SELECT super, iidx, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cvec
        |  FROM iu GROUP BY super, iidx),
        |b1 AS (
        |  SELECT cells.vec_id,
        |    CAST(any_value(cells.super) AS BIGINT) * 4 +
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cells.q)),
        |           i -> (CAST(cells.q[i] AS DOUBLE) - i1.cvec[i]) * (CAST(cells.q[i] AS DOUBLE) - i1.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': i1.iidx})).c AS cluster
        |  FROM cells JOIN i1 USING (super) GROUP BY cells.vec_id)
        |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM b1 ORDER BY vec_id""".stripMargin),
    // replays SemDeDup end-to-end: the c_kmeans replay above (1 Lloyd
    // round) gives the clusters, then in-cluster pairwise cosine (rounded
    // to 6 before the threshold, same as d_embed_exact) marks every
    // vector with a lower-id similar neighbor as dropped
    "d_semdedup" ->
      ("""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(vec_id AS INT) AS cidx, list_transform(q, x -> CAST(x AS DOUBLE)) AS cvec
        |  FROM q WHERE vec_id < 8),
        |a0 AS (
        |  SELECT q.vec_id, any_value(q.q) AS q,
        |    (min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |           i -> (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c0.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': c0.cidx})).c AS cluster
        |  FROM q, c0 GROUP BY q.vec_id),
        |u1 AS (
        |  SELECT cluster, i, SUM(q[i]) AS s, COUNT(*) AS n
        |  FROM a0, generate_series(1, 64) t(i)
        |  GROUP BY cluster, i),
        |c1 AS (
        |  SELECT cluster AS cidx, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS cvec
        |  FROM u1 GROUP BY cluster),
        |asg AS (
        |  SELECT q.vec_id,
        |    CAST((min({'d': list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(q.q)),
        |           i -> (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]) * (CAST(q.q[i] AS DOUBLE) - c1.cvec[i]))),
        |           (a, b) -> a + b),
        |          'c': c1.cidx})).c AS INT) AS cluster
        |  FROM q, c1 GROUP BY q.vec_id),
        |e AS (SELECT a.vec_id, a.cluster, CAST(emb.embedding AS DOUBLE[]) AS v
        |      FROM asg a JOIN embeddings emb USING (vec_id)),
        |dup AS (
        |  SELECT DISTINCT x.vec_id FROM e x JOIN e y
        |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3)
        |SELECT e.vec_id, e.cluster, (dup.vec_id IS NULL) AS kept
        |FROM e LEFT JOIN dup ON e.vec_id = dup.vec_id ORDER BY e.vec_id""".stripMargin),
    // mirrors Relevance.tfidfTopTerms: tf * ln((1+N)/(1+df)), min df 2,
    // per-doc row_number over (tfidf DESC, term)
    "t_tfidf" ->
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY doc_id, term),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term HAVING COUNT(*) >= 2),
        |sc AS (SELECT tf.doc_id, tf.term,
        |         CAST(tf.tf AS DOUBLE) * ln((1.0 + nd.n) / (1.0 + CAST(dfr.df AS DOUBLE))) AS tfidf
        |       FROM tf JOIN dfr USING (term), nd),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, ROUND(tfidf, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    "e_range" ->
      ("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |i AS (SELECT user_id, event_id AS iv_id, tus AS lo, tus + 600000000 AS hi
        |      FROM e WHERE event_id % 2 = 1)
        |SELECT i.iv_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
        |       MIN(p.event_id) AS first_event, MAX(p.event_id) AS last_event
        |FROM p JOIN i ON p.user_id = i.user_id AND p.tus BETWEEN i.lo AND i.hi
        |GROUP BY i.iv_id ORDER BY i.iv_id""".stripMargin),
    // DuckDB's native ASOF JOIN is the oracle; right-side (user, ts)
    // duplicates are collapsed to max event_id on both sides so the match
    // is total-order deterministic
    "e_asof" ->
      ("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, tus, max(event_id) AS mid, max_by(value, event_id) AS mval
        |      FROM e WHERE event_id % 2 = 1 GROUP BY user_id, tus)
        |SELECT l.event_id, l.user_id, l.tus, r.mid AS matched_event,
        |       ROUND(r.mval, 4) AS matched_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tus >= r.tus
        |ORDER BY l.event_id""".stripMargin),
    "e_sessions" ->
      ("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |                       OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM m)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |       MIN(tus) AS start_us, MAX(tus) AS end_us, ROUND(SUM(value), 4) AS total_value
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin),
    // closed-form recompute of the synthetic 32x24 gradient the engine
    // actually DECODES from P6 bytes: r = x*255/31 (int div), g = y*255/23,
    // b = ((x+y+id)%16)*16 — integer-exact per channel, averaged in double
    "mm_decode" ->
      ("""SELECT d.doc_id, 32 AS width, 24 AS height, 3 AS channels,
        |  (SELECT AVG((x * 255) // 31) FROM range(32) tx(x)) AS mean_r,
        |  (SELECT AVG((y * 255) // 23) FROM range(24) ty(y)) AS mean_g,
        |  (SELECT AVG(((x + y + d.doc_id) % 16) * 16)
        |     FROM range(32) tx(x), range(24) ty(y)) AS mean_b
        |FROM documents d ORDER BY d.doc_id""".stripMargin),
    // the PNG round-trip is lossless, so the real ImageIO metadata read has
    // a constant closed form per row
    "mm_media_meta" ->
      ("""SELECT doc_id, 'image/png' AS media_type, CAST(32 AS INT) AS width,
        |  CAST(24 AS INT) AS height, CAST(3 AS INT) AS channels,
        |  CAST(0 AS BIGINT) AS duration_ms, 'png' AS codec
        |FROM documents ORDER BY doc_id""".stripMargin),
    // integer-exact 4x4 grid pooling of the gradient raster the engine
    // actually decodes from real PNG bytes: cells are exact 8x6 tiles, so
    // per-cell channel sums recompute in SQL with no float hazard
    "mm_features" ->
      ("""WITH px AS (
        |  SELECT d.doc_id, x, y,
        |    (x * 255) // 31 AS r, (y * 255) // 23 AS g,
        |    ((x + y + d.doc_id) % 16) * 16 AS b
        |  FROM documents d, range(32) tx(x), range(24) ty(y))
        |SELECT doc_id, CAST((y // 6) * 4 + (x // 8) AS INT) AS cell,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, cell ORDER BY doc_id, cell""".stripMargin),
    // closed-form recompute of the synthetic sawtooth the engine actually
    // DECODES from RIFF/WAVE bytes: s(i) = ((i*k + id) % 4096 - 2048) * 8
    // with k = 3 + id % 5, n = 1600 + (id % 7) * 160 samples at 8 kHz —
    // all columns integer-exact (zero crossing = strict sign product)
    "mm_audio" ->
      ("""WITH p AS (
        |  SELECT doc_id, 1600 + (doc_id % 7) * 160 AS n, 3 + doc_id % 5 AS k FROM documents),
        |s AS (
        |  SELECT p.doc_id, p.n, i, ((i * p.k + p.doc_id) % 4096 - 2048) * 8 AS v
        |  FROM p, range(2560) t(i) WHERE i < p.n),
        |w AS (
        |  SELECT doc_id, n, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(MAX(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(COALESCE(SUM(CASE WHEN pv * v < 0 THEN 1 END), 0) AS BIGINT) AS n_zero_cross,
        |  CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(SUM(v * v) AS BIGINT) AS sum_sq
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // closed-form recompute of the synthetic 16x12 4:2:0 clip the engine
    // actually DECODES from YUV4MPEG2 bytes: nFrames = 4 + id % 3,
    // Y = (x*7+y*5+f*11+id)%256, U = (x*3+y+f+id)%256, V = (x+y*3+f*2+id)%256
    "mm_video" ->
      ("""WITH f AS (SELECT doc_id, 4 + doc_id % 3 AS nf FROM documents)
        |SELECT f.doc_id, CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
        |  CAST(25 AS INT) AS fps_num, CAST(1 AS INT) AS fps_den,
        |  CAST(f.nf AS BIGINT) AS n_frames,
        |  CAST((SELECT SUM((x*7 + y*5 + fr*11 + f.doc_id) % 256)
        |        FROM range(16) tx(x), range(12) ty(y), range(6) tf(fr) WHERE fr < f.nf) AS BIGINT) AS y_sum,
        |  CAST((SELECT SUM((x*3 + y + fr + f.doc_id) % 256)
        |        FROM range(8) cx(x), range(6) cy(y), range(6) tf(fr) WHERE fr < f.nf) AS BIGINT) AS u_sum,
        |  CAST((SELECT SUM((x + y*3 + fr*2 + f.doc_id) % 256)
        |        FROM range(8) cx(x), range(6) cy(y), range(6) tf(fr) WHERE fr < f.nf) AS BIGINT) AS v_sum
        |FROM f ORDER BY f.doc_id""".stripMargin),
    // every 2nd frame of the same clip, per-frame luma sum
    "mm_frames" ->
      ("""WITH f AS (SELECT doc_id, 4 + doc_id % 3 AS nf FROM documents),
        |fr AS (SELECT doc_id, fi FROM f, range(6) t(fi) WHERE fi < nf AND fi % 2 = 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_index,
        |  CAST((SELECT SUM((x*7 + y*5 + fr.fi*11 + fr.doc_id) % 256)
        |        FROM range(16) tx(x), range(12) ty(y)) AS BIGINT) AS frame_y_sum
        |FROM fr ORDER BY doc_id, frame_index""".stripMargin),
    "t_bigrams" ->
      """SELECT ngram, cnt FROM (
        |  SELECT ngram, count(*) AS cnt FROM (
        |    SELECT unnest(list_transform(range(0, greatest(len(words) - 2, 0) + 1),
        |           i -> array_to_string(words[i + 1 : i + 2], ' '))) AS ngram
        |    FROM (SELECT string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS words FROM documents)
        |  ) WHERE length(ngram) >= 1 GROUP BY ngram)
        |ORDER BY cnt DESC, ngram ASC LIMIT 100""".stripMargin,
    // exact all-pairs word-3-shingle Jaccard, mirroring Dedup.shingles
    // tokenization byte-for-byte; the sf0.01 similarity spectrum is empty in
    // [0.3, 0.9) so the LSH candidate stage has provably full recall at 0.7.
    // d_ngram (the exact inverted-index algorithm) must match the same set.
    "d_ngram" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w
        |)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // replays pageRankUndirected over the d_ngram pair set: integer rank
    // mass, // (floor) divisions, two unrolled damped rounds
    "g_pagerank" ->
      ("""WITH w AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w
        |), p AS (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |), e AS (
        |  SELECT doc_id_a AS src, doc_id_b AS dst FROM p
        |  UNION ALL SELECT doc_id_b, doc_id_a FROM p
        |), n AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |dg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n),
        |c1 AS (
        |  SELECT e.dst AS id, SUM(p0.pr // dg.deg) AS s
        |  FROM e JOIN p0 ON e.src = p0.id JOIN dg ON e.src = dg.src GROUP BY e.dst),
        |p1 AS (
        |  SELECT n.id, 150000 + (85 * COALESCE(c1.s, 0)) // 100 AS pr
        |  FROM n LEFT JOIN c1 USING (id)),
        |c2 AS (
        |  SELECT e.dst AS id, SUM(p1.pr // dg.deg) AS s
        |  FROM e JOIN p1 ON e.src = p1.id JOIN dg ON e.src = dg.src GROUP BY e.dst),
        |p2 AS (
        |  SELECT n.id, 150000 + (85 * COALESCE(c2.s, 0)) // 100 AS pr
        |  FROM n LEFT JOIN c2 USING (id))
        |SELECT id, CAST(pr AS BIGINT) AS pr FROM p2 ORDER BY id""".stripMargin),
    "d_minhash" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w
        |)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // connected components over the exact-jaccard pair list: recursive
    // reachability, component = min reachable doc_id (matches the engine's
    // min-label propagation fixpoint by definition)
    "d_clusters" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w
        |), p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |), e AS (
        |  SELECT u, v FROM p UNION ALL SELECT v, u FROM p
        |), reach AS (
        |  SELECT u AS id, u AS comp FROM e
        |  UNION
        |  SELECT e.u AS id, r.comp FROM e JOIN reach r ON r.id = e.v
        |)
        |SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d_cluster_dedup" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS words
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w
        |), p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |), e AS (
        |  SELECT u, v FROM p UNION ALL SELECT v, u FROM p
        |), reach AS (
        |  SELECT u AS id, u AS comp FROM e
        |  UNION
        |  SELECT e.u AS id, r.comp FROM e JOIN reach r ON r.id = e.v
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM reach GROUP BY id HAVING MIN(comp) != id)
        |ORDER BY d.doc_id""".stripMargin,
    // COALESCE/CASE guards mirror the engine's zero-scale and empty-vector
    // behavior (scale 0.0, all-zero q) so the oracle stays exact even if
    // the testdata ever grows degenerate vectors
    "s_quant" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    COALESCE(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) / 127.0 AS scale,
        |    CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings
        |)
        |SELECT vec_id, scale,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(COALESCE(list_sum(list_transform(e, x -> round(x / scale))), 0) AS BIGINT) END AS q_sum,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(COALESCE(list_sum(list_transform(e, x -> abs(round(x / scale)))), 0) AS BIGINT) END AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin,
    "d_embed_exact" ->
      """SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
        |ORDER BY vec_id_a, vec_id_b""".stripMargin,
    "t_sample" ->
      ("""SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |  FROM documents
        |) t WHERE (b * b + 7 * b) % 1000000007 < 250000001
        |ORDER BY doc_id""".stripMargin),
    "t_weighted" ->
      ("""SELECT doc_id, source, priority FROM (
        |  SELECT doc_id, source,
        |    (greatest(length(text), 1) * 1073741824) // (((b * b + 7 * b) % 1000000007) + 1) AS priority
        |  FROM (SELECT doc_id, source, text,
        |          ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |        FROM documents) h
        |  ORDER BY priority DESC, doc_id LIMIT 50
        |) t ORDER BY doc_id""".stripMargin),
    // the global-window definition the two-phase enumeration equals
    "t_shuffle" ->
      ("""SELECT doc_id, row_number() OVER (
        |    ORDER BY (b * b + 7 * b) % 1000000007, doc_id) AS position
        |FROM (SELECT doc_id,
        |        ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin),
    "t_stratified" ->
      ("""SELECT lang, count(*) AS n_kept FROM (
        |  SELECT lang,
        |    ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |  FROM documents
        |) t WHERE (b * b + 3 * b) % 1000000007 <
        |  CAST(FLOOR(CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'zh' THEN 0.9 ELSE 0.2 END * 1000000007.0) AS BIGINT)
        |GROUP BY lang ORDER BY lang""".stripMargin),
    // mirrors Curation.contaminationCheck on gram STRINGS (the engine joins
    // 64-bit gram hashes — identical counts absent a 2^-64 collision)
    "t_contam" ->
      ("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), t -> length(t) > 0) AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS grams
        |  FROM toks),
        |bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 37 = 0),
        |corp AS (SELECT doc_id, grams FROM g WHERE doc_id % 37 <> 0),
        |sh AS (
        |  SELECT c.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(grams) AS gr FROM corp) c
        |  JOIN bench USING (gr) GROUP BY c.doc_id)
        |SELECT corp.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
        |  CASE WHEN len(grams) > 0
        |    THEN ROUND(CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / CAST(len(grams) AS DOUBLE), 6)
        |    ELSE 0.0 END AS contam_frac,
        |  (len(grams) > 0 AND CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) >= 0.2 * CAST(len(grams) AS DOUBLE)) AS contaminated
        |FROM corp LEFT JOIN sh USING (doc_id) ORDER BY corp.doc_id""".stripMargin),
    // replays rebalanceToMixture: per-source counts -> N* = min(count*W/w)
    // -> thresholds in HUGEINT (exact, like the engine's BigInt) -> the
    // same integer hash predicate as t_sample, seed 7
    "t_mixture" ->
      ("""WITH wt AS (
        |  SELECT * FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 1), ('src3', 1)) w(source, w)),
        |cnt AS (
        |  SELECT d.source, CAST(COUNT(*) AS HUGEINT) AS n, CAST(ANY_VALUE(w.w) AS HUGEINT) AS w
        |  FROM documents d JOIN wt w USING (source) GROUP BY d.source),
        |tot AS (SELECT CAST(SUM(w) AS HUGEINT) AS bigw FROM wt),
        |ns AS (SELECT MIN(n * bigw // w) AS nstar FROM cnt, tot),
        |thr AS (
        |  SELECT source, (nstar * w * 1000000007 // (bigw * n)) AS t
        |  FROM cnt, tot, ns)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN thr ON d.source = thr.source
        |WHERE (SELECT (b * b + 7 * b) % 1000000007 FROM
        |  (SELECT ((d.doc_id & 1073741823) * 2654435761 + (d.doc_id >> 30) * 976369) % 1000000007 AS b)) < t
        |ORDER BY d.doc_id""".stripMargin),
    // replays chunkDedup: same chunking arithmetic, first-occurrence
    // keeper via row_number (the engine's MIN-struct agg has identical
    // semantics), ordered string_agg reassembly
    "d_chunks" ->
      ("""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i*10+1 : i*10+10], ' ') AS chunk
        |  FROM w, unnest(range(0, (len(ws) + 9) // 10)) AS t(i)),
        |kp AS (
        |  SELECT chunk, doc_id, pos FROM (
        |    SELECT chunk, doc_id, pos, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM ch) q
        |  WHERE rn = 1),
        |ag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(chunk, ' ' ORDER BY pos) AS text_clean
        |  FROM kp GROUP BY doc_id)
        |SELECT w.doc_id, CAST((len(ws) + 9) // 10 AS BIGINT) AS n_chunks,
        |  COALESCE(ag.n_kept, 0) AS n_kept, COALESCE(ag.text_clean, '') AS text_clean
        |FROM w LEFT JOIN ag USING (doc_id) ORDER BY w.doc_id""".stripMargin),
    "t_token_mixture" ->
      ("""WITH wt AS (
        |  SELECT * FROM (VALUES ('src0', 5), ('src1', 3), ('src2', 1), ('src3', 1)) w(source, w)),
        |cnt AS (
        |  SELECT d.source,
        |    CAST(SUM(len(string_split_regex(trim(d.text), '[ \t\n\x0B\f\r]+'))) AS HUGEINT) AS n,
        |    CAST(ANY_VALUE(w.w) AS HUGEINT) AS w
        |  FROM documents d JOIN wt w USING (source) GROUP BY d.source),
        |tot AS (SELECT CAST(SUM(w) AS HUGEINT) AS bigw FROM wt),
        |ns AS (SELECT MIN(n * bigw // w) AS nstar FROM cnt, tot),
        |thr AS (
        |  SELECT source, (nstar * w * 1000000007 // (bigw * n)) AS t
        |  FROM cnt, tot, ns)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN thr ON d.source = thr.source
        |WHERE (SELECT (b * b + 7 * b) % 1000000007 FROM
        |  (SELECT ((d.doc_id & 1073741823) * 2654435761 + (d.doc_id >> 30) * 976369) % 1000000007 AS b)) < t
        |ORDER BY d.doc_id""".stripMargin),
    "t_cap" ->
      ("""SELECT doc_id, source, CAST(rank AS INT) AS rank FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 10 ORDER BY source, rank""".stripMargin),
    // five-stage replay of CuratePipeline.curate: exact-dedup window,
    // n-gram Jaccard pairs over the survivors + recursive reachability,
    // contamination screen vs the benchmark slice, the t_analysis quality
    // formula, then t_mixture's HUGEINT thresholds over the final counts
    "t_curate" ->
      ("""WITH RECURSIVE f AS (
        |  SELECT doc_id, source, text, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 37 <> 0),
        |ex AS (
        |  SELECT doc_id, source, text, norm FROM (
        |    SELECT f.*, min(doc_id) OVER (PARTITION BY norm) AS kp FROM f) t
        |  WHERE doc_id = kp),
        |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM ex),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(words) - 3, 0) + 1),
        |      i -> array_to_string(words[i + 1 : i + 3], ' '))) AS s
        |  FROM w),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.7),
        |e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
        |reach AS (
        |  SELECT u AS id, u AS comp FROM e
        |  UNION
        |  SELECT e.u AS id, r.comp FROM e JOIN reach r ON r.id = e.v),
        |nr AS (
        |  SELECT ex.* FROM ex
        |  WHERE ex.doc_id NOT IN (SELECT id FROM reach GROUP BY id HAVING MIN(comp) != id)),
        |bg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END) AS gr
        |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> length(x) > 0) AS ws
        |        FROM documents WHERE doc_id % 37 = 0)),
        |ct AS (
        |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> length(x) > 0) AS ws
        |        FROM nr)),
        |shd AS (
        |  SELECT c.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(grams) AS gr FROM ct) c JOIN bg USING (gr)
        |  GROUP BY c.doc_id),
        |cl AS (
        |  SELECT nr.* FROM nr JOIN ct ON nr.doc_id = ct.doc_id
        |  LEFT JOIN shd ON nr.doc_id = shd.doc_id
        |  WHERE NOT (len(ct.grams) > 0 AND
        |    CAST(COALESCE(shd.n_shared, 0) AS DOUBLE) >= 0.2 * CAST(len(ct.grams) AS DOUBLE))),
        |q0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE) AS wc,
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_len,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(length(text) - length(translate(text, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '')) AS DOUBLE) AS n_punct,
        |    CAST(length(text) - length(translate(text, '0123456789', '')) AS DOUBLE) AS n_digit,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) AS stop_hits
        |  FROM cl),
        |q1 AS (
        |  SELECT doc_id, source,
        |    round((least(wc / 50.0, 1.0)
        |         + (1.0 - least(n_punct / safe_len * 4.0, 1.0))
        |         + (1.0 - least(n_digit / safe_len * 4.0, 1.0))
        |         + (CASE WHEN len / greatest(wc, 1.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.4 END)
        |         + least(stop_hits / greatest(wc, 1.0) * 3.0, 1.0)) / 5.0, 4) AS quality_score
        |  FROM q0),
        |qs AS (SELECT * FROM q1 WHERE quality_score >= 0.5),
        |wt AS (SELECT * FROM (VALUES ('src0', 2), ('src1', 1), ('src2', 1), ('src3', 1)) w(source, wgt)),
        |cnt AS (
        |  SELECT q.source, CAST(COUNT(*) AS HUGEINT) AS n, CAST(ANY_VALUE(wt.wgt) AS HUGEINT) AS wgt
        |  FROM qs q JOIN wt ON q.source = wt.source GROUP BY q.source),
        |tot AS (SELECT CAST(SUM(wgt) AS HUGEINT) AS bigw FROM wt),
        |ns AS (SELECT MIN(n * bigw // wgt) AS nstar FROM cnt, tot),
        |thr AS (SELECT source, (nstar * wgt * 1000000007 // (bigw * n)) AS t FROM cnt, tot, ns)
        |SELECT q.doc_id, q.source, q.quality_score
        |FROM qs q JOIN thr ON q.source = thr.source
        |WHERE (SELECT (b * b + 7 * b) % 1000000007 FROM
        |  (SELECT ((q.doc_id & 1073741823) * 2654435761 + (q.doc_id >> 30) * 976369) % 1000000007 AS b)) < t
        |ORDER BY q.doc_id""".stripMargin),
    // replays the composed incremental cycle: batch-vs-history norm
    // anti-dedup, the t_contam trigram screen, the t_analysis quality
    // formula, then the t_pack greedy recurrence with its anchor seeded
    // from the literal prior shard states
    "t_curate_incr" ->
      ("""WITH RECURSIVE hist AS (
        |  SELECT DISTINCT lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 3 = 0),
        |b0 AS (
        |  SELECT doc_id, source, text, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 3 <> 0),
        |nov AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT b0.*, min(doc_id) OVER (PARTITION BY norm) AS kp FROM b0) t
        |  WHERE doc_id = kp AND norm NOT IN (SELECT norm FROM hist)),
        |bg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END) AS gr
        |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> length(x) > 0) AS ws
        |        FROM documents WHERE doc_id % 37 = 0)),
        |ct AS (
        |  SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS grams
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> length(x) > 0) AS ws
        |        FROM nov)),
        |shd AS (
        |  SELECT c.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(grams) AS gr FROM ct) c JOIN bg USING (gr)
        |  GROUP BY c.doc_id),
        |cl AS (
        |  SELECT nov.* FROM nov JOIN ct ON nov.doc_id = ct.doc_id
        |  LEFT JOIN shd ON nov.doc_id = shd.doc_id
        |  WHERE NOT (len(ct.grams) > 0 AND
        |    CAST(COALESCE(shd.n_shared, 0) AS DOUBLE) >= 0.2 * CAST(len(ct.grams) AS DOUBLE))),
        |q0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE) AS wc,
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_len,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(length(text) - length(translate(text, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '')) AS DOUBLE) AS n_punct,
        |    CAST(length(text) - length(translate(text, '0123456789', '')) AS DOUBLE) AS n_digit,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) AS stop_hits
        |  FROM cl),
        |q1 AS (
        |  SELECT doc_id, source, CAST(wc AS BIGINT) AS n,
        |    round((least(wc / 50.0, 1.0)
        |         + (1.0 - least(n_punct / safe_len * 4.0, 1.0))
        |         + (1.0 - least(n_digit / safe_len * 4.0, 1.0))
        |         + (CASE WHEN len / greatest(wc, 1.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.4 END)
        |         + least(stop_hits / greatest(wc, 1.0) * 3.0, 1.0)) / 5.0, 4) AS quality_score
        |  FROM q0),
        |qs AS (SELECT * FROM q1 WHERE quality_score >= 0.5),
        |d AS (
        |  SELECT doc_id, source, quality_score, n,
        |    ((b * b + 7 * b) % 1000000007) % 8 AS shard
        |  FROM (SELECT qs.*,
        |    ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |    FROM qs)),
        |st AS (SELECT * FROM (VALUES (0, 0, 0), (1, 1, 89), (2, 2, 178), (3, 0, 267),
        |       (4, 1, 356), (5, 2, 445), (6, 0, 22), (7, 1, 111)) s(shard, pack_idx, used)),
        |o AS (SELECT d.*, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM d),
        |rec AS (
        |  SELECT o.shard, o.rn, o.doc_id, o.source, o.quality_score, o.n,
        |    CASE WHEN st.used > 0 AND st.used + o.n > 512 THEN CAST(st.pack_idx + 1 AS BIGINT)
        |         ELSE CAST(st.pack_idx AS BIGINT) END AS pack_idx,
        |    CASE WHEN st.used > 0 AND st.used + o.n > 512 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(st.used AS BIGINT) END AS pack_offset,
        |    CASE WHEN st.used > 0 AND st.used + o.n > 512 THEN o.n
        |         ELSE CAST(st.used AS BIGINT) + o.n END AS used
        |  FROM o JOIN st ON o.shard = st.shard WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.source, o.quality_score, o.n,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN r.pack_idx + 1 ELSE r.pack_idx END,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN CAST(0 AS BIGINT) ELSE r.used END,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN o.n ELSE r.used + o.n END
        |  FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1)
        |SELECT doc_id, source, quality_score, n AS n_tokens, shard, pack_idx, pack_offset
        |FROM rec ORDER BY doc_id""".stripMargin),
    // replays the histogram sketch: identical clamped-bin integer
    // arithmetic, HUGEINT-safe internal sums, and the same IEEE-double
    // interpolation order as Histogram.quantileEstimates
    "q_histq" ->
      ("""WITH c AS (
        |  SELECT LEAST(GREATEST(CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 1000.0) AS BIGINT), 0), 109) AS bin,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum, SUM(cnt) OVER () AS n FROM c),
        |qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) v(q)),
        |sel AS (SELECT q, min(bin) AS bin FROM qs JOIN cum ON cum.cum >= CAST(ceil(q * cum.n) AS BIGINT) GROUP BY q),
        |fin AS (SELECT s.q, s.bin, c.cnt, c.cum, c.n FROM sel s JOIN cum c ON s.bin = c.bin)
        |SELECT q, round(0.0 + 1000.0 * (CAST(bin AS DOUBLE)
        |  + CAST(CAST(ceil(q * n) AS BIGINT) - (cum - cnt) AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) AS est
        |FROM fin ORDER BY q""".stripMargin),
    // replays the HLL register build: same polynomial hash, idx = h % 256,
    // rho = 1 + trailing zeros of h // 256 (first set bit via the same
    // ascending bit scan), capped at 40; registers = per-idx MAX
    "q_hll" ->
      ("""WITH h AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(generate_series(1, greatest(length(CAST(l_orderkey AS VARCHAR)), 1)),
        |             j -> CAST(ascii(substr(CAST(l_orderkey AS VARCHAR), CAST(j AS INT), 1)) AS BIGINT))),
        |           (a, c) -> (a * 31 + c) % 9007199254740881) AS h
        |  FROM lineitem),
        |r AS (SELECT h % 256 AS idx, h // 256 AS rest FROM h),
        |rh AS (SELECT idx, LEAST(COALESCE(
        |         list_filter(generate_series(1, 46),
        |           r -> ((rest // (CAST(1 AS BIGINT) << (r - 1))) % 2) = 1)[1],
        |         46), 40) AS rho FROM r)
        |SELECT idx, CAST(MAX(rho) AS BIGINT) AS rho FROM rh GROUP BY idx ORDER BY idx""".stripMargin),
    // replays registers per group, then the estimate: the 2^(40-rho) sum
    // is exact integer arithmetic (HUGEINT-safe), numerator literals are
    // power-of-two-scaled so the single division is IEEE-identical
    "q_hll_est" ->
      ("""WITH h AS (
        |  SELECT l_returnflag, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(generate_series(1, greatest(length(CAST(l_orderkey AS VARCHAR)), 1)),
        |             j -> CAST(ascii(substr(CAST(l_orderkey AS VARCHAR), CAST(j AS INT), 1)) AS BIGINT))),
        |           (a, c) -> (a * 31 + c) % 9007199254740881) AS h
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, h % 256 AS idx, h // 256 AS rest FROM h),
        |rh AS (SELECT l_returnflag, idx, LEAST(COALESCE(
        |         list_filter(generate_series(1, 46),
        |           r -> ((rest // (CAST(1 AS BIGINT) << (r - 1))) % 2) = 1)[1],
        |         46), 40) AS rho FROM r),
        |reg AS (SELECT l_returnflag, idx, MAX(rho) AS rho FROM rh GROUP BY 1, 2),
        |s AS (SELECT l_returnflag,
        |        SUM(CAST(1 AS BIGINT) << (40 - rho)) AS s_obs,
        |        COUNT(*) AS n_obs FROM reg GROUP BY 1),
        |e AS (SELECT l_returnflag,
        |        round((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 1099511627776.0
        |          / CAST(s_obs + (256 - n_obs) * 1099511627776 AS DOUBLE), 3) AS est
        |      FROM s),
        |x AS (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
        |      FROM lineitem GROUP BY 1)
        |SELECT x.l_returnflag, n_exact, est FROM x JOIN e USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),
    // replays packGreedy: shard = hashBucket(doc_id, seed=7) % 8 in plain
    // integer arithmetic, then the greedy (pack_idx, used) recurrence per
    // shard via a recursive CTE stepping row_number() within shard
    "t_pack" ->
      ("""WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n,
        |    ((b * b + 7 * b) % 1000000007) % 8 AS shard
        |  FROM (SELECT *,
        |    ((doc_id & 1073741823) * 2654435761 + (doc_id >> 30) * 976369) % 1000000007 AS b
        |    FROM documents)),
        |o AS (SELECT d.*, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM d),
        |rec AS (
        |  SELECT shard, rn, doc_id, n,
        |    CAST(0 AS BIGINT) AS pack_idx, CAST(0 AS BIGINT) AS pack_offset, n AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.n,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN r.pack_idx + 1 ELSE r.pack_idx END,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN CAST(0 AS BIGINT) ELSE r.used END,
        |    CASE WHEN r.used > 0 AND r.used + o.n > 512 THEN o.n ELSE r.used + o.n END
        |  FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1)
        |SELECT doc_id, n AS n_tokens, shard, pack_idx, pack_offset
        |FROM rec ORDER BY doc_id""".stripMargin),
    // replays the greedy longest-match tokenizer: best-match table per
    // (word, position) from a prefix join, then a recursive walk whose
    // step size is the best match (1 on <unk>); per-doc sums join back
    // through the token list. Same vocabulary literal as the engine.
    "t_subword" ->
      (s"""WITH RECURSIVE v(p) AS (VALUES $subVocabValues),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks WHERE length(w) > 0 GROUP BY doc_id, w),
        |words AS (SELECT DISTINCT w FROM tf),
        |pos AS (SELECT w, unnest(generate_series(1, length(w))) AS pos FROM words),
        |best AS (
        |  SELECT pos.w, pos.pos, COALESCE(MAX(length(v.p)), 0) AS l
        |  FROM pos LEFT JOIN v ON substr(pos.w, pos.pos, length(v.p)) = v.p
        |  GROUP BY pos.w, pos.pos),
        |rec AS (
        |  SELECT w, 1 AS pos, 0 AS np, 0 AS nu FROM words
        |  UNION ALL
        |  SELECT r.w, r.pos + GREATEST(b.l, 1), r.np + 1,
        |         r.nu + CASE WHEN b.l = 0 THEN 1 ELSE 0 END
        |  FROM rec r JOIN best b ON r.w = b.w AND r.pos = b.pos
        |  WHERE r.pos <= length(r.w)),
        |wstats AS (SELECT w, MAX(np) AS np, MAX(nu) AS nu FROM rec GROUP BY w)
        |SELECT tf.doc_id, CAST(SUM(tf.tf * ws.np) AS BIGINT) AS n_pieces,
        |  CAST(SUM(tf.tf * ws.nu) AS BIGINT) AS n_unk
        |FROM tf JOIN wstats ws ON tf.w = ws.w
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin),
    // piece identities via the same walk: re-walk emitting the matched
    // substring (or '<unk>'), weight by token frequency, top 20
    "t_subword_freq" ->
      (s"""WITH RECURSIVE v(p) AS (VALUES $subVocabValues),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
        |  FROM documents),
        |tf AS (SELECT w, COUNT(*) AS tf FROM toks WHERE length(w) > 0 GROUP BY w),
        |words AS (SELECT w FROM tf),
        |pos AS (SELECT w, unnest(generate_series(1, length(w))) AS pos FROM words),
        |best AS (
        |  SELECT pos.w, pos.pos, COALESCE(MAX(length(v.p)), 0) AS l
        |  FROM pos LEFT JOIN v ON substr(pos.w, pos.pos, length(v.p)) = v.p
        |  GROUP BY pos.w, pos.pos),
        |rec AS (
        |  SELECT w, 1 AS pos,
        |         CAST(NULL AS VARCHAR) AS piece
        |  FROM words
        |  UNION ALL
        |  SELECT r.w, r.pos + GREATEST(b.l, 1),
        |         CASE WHEN b.l = 0 THEN '<unk>'
        |              ELSE substr(r.w, r.pos, b.l) END
        |  FROM rec r JOIN best b ON r.w = b.w AND r.pos = b.pos
        |  WHERE r.pos <= length(r.w))
        |SELECT piece, CAST(SUM(tf.tf) AS BIGINT) AS n
        |FROM rec JOIN tf ON rec.w = tf.w
        |WHERE rec.piece IS NOT NULL
        |GROUP BY piece ORDER BY n DESC, piece LIMIT 20""".stripMargin),
    // replays the count-min sketch from token counts (equivalent to
    // per-occurrence increments): same polynomial hash, same per-row
    // (h*a + b) % P % 512 cells, cell = SUM of colliding counts, estimate
    // = MIN over the 3 rows
    "t_cms" ->
      ("""WITH w AS (
        |  SELECT unnest(string_split(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS exact FROM w WHERE length(tok) >= 1 GROUP BY tok),
        |hh AS (
        |  SELECT tok, exact, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(generate_series(1, greatest(length(tok), 1)),
        |             j -> CAST(ascii(substr(tok, CAST(j AS INT), 1)) AS BIGINT))),
        |           (a, c) -> (a * 31 + c) % 9007199254740881) AS h
        |  FROM c),
        |params AS (SELECT * FROM (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13)) v(r, a, b)),
        |cell AS (
        |  SELECT tok, exact, r, ((h * a + b) % 9007199254740881) % 512 AS idx
        |  FROM hh CROSS JOIN params),
        |sk AS (SELECT r, idx, SUM(exact) AS cnt FROM cell GROUP BY r, idx),
        |est AS (SELECT cell.tok, MIN(sk.cnt) AS est
        |        FROM cell JOIN sk USING (r, idx) GROUP BY cell.tok)
        |SELECT c.tok, CAST(c.exact AS BIGINT) AS exact, CAST(est.est AS BIGINT) AS est
        |FROM c JOIN est USING (tok) ORDER BY tok""".stripMargin),
    // replays trigram familiarity: same normalization, same 3-char slices
    // (empty below 3 chars), reference counts from src0-3, per-position
    // LEFT JOIN with capped-count sum; docs with no trigrams keep zeros
    "t_trigram" ->
      ("""WITH n AS (
        |  SELECT doc_id, source, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, unnest(
        |    CASE WHEN length(norm) >= 3
        |         THEN list_transform(generate_series(1, length(norm) - 2),
        |                i -> substr(norm, CAST(i AS INT), 3))
        |         ELSE CAST([] AS VARCHAR[]) END) AS tri
        |  FROM n),
        |ref AS (SELECT tri, COUNT(*) AS rc FROM g
        |        WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY tri),
        |sc AS (
        |  SELECT g.doc_id, COUNT(*) AS n_tri,
        |         SUM(CASE WHEN ref.rc IS NOT NULL THEN 1 ELSE 0 END) AS n_known,
        |         SUM(LEAST(COALESCE(ref.rc, 0), 100)) AS fam
        |  FROM g LEFT JOIN ref USING (tri) GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(COALESCE(sc.n_known, 0) AS BIGINT) AS n_known,
        |       CAST(COALESCE(sc.fam, 0) AS BIGINT) AS fam
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    // replays NB training: same tokenization, add-one-smoothed log ratio
    // over the min-count-kept vocabulary; every integer product < 2^53 so
    // the ln argument is the same IEEE double on both engines
    "t_nb_model" ->
      ("""WITH toks AS (
        |  SELECT lang = 'en' AS pos,
        |         unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token,
        |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM toks GROUP BY token),
        |kept AS (SELECT * FROM counts WHERE n_pos + n_neg >= 2),
        |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
        |               CAST(SUM(n_neg) AS BIGINT) AS tot_neg,
        |               CAST(COUNT(*) AS BIGINT) AS v FROM kept)
        |SELECT token, n_pos, n_neg,
        |       CAST(ROUND(LN(((n_pos + 1.0) * (tot_neg + v)) /
        |                     ((n_neg + 1.0) * (tot_pos + v))) * 1e6) AS BIGINT) AS w_micro
        |FROM kept, tot ORDER BY token""".stripMargin),
    "t_nb_score" ->
      ("""WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS token
        |  FROM documents),
        |lbl AS (
        |  SELECT doc_id, lang = 'en' AS pos FROM documents),
        |counts AS (
        |  SELECT token,
        |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM toks JOIN lbl USING (doc_id) GROUP BY token),
        |kept AS (SELECT * FROM counts WHERE n_pos + n_neg >= 2),
        |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
        |               CAST(SUM(n_neg) AS BIGINT) AS tot_neg,
        |               CAST(COUNT(*) AS BIGINT) AS v FROM kept),
        |model AS (
        |  SELECT token,
        |         CAST(ROUND(LN(((n_pos + 1.0) * (tot_neg + v)) /
        |                       ((n_neg + 1.0) * (tot_pos + v))) * 1e6) AS BIGINT) AS w_micro
        |  FROM kept, tot),
        |prior AS (
        |  SELECT CAST(ROUND(LN(
        |           (SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0) /
        |           (SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 1.0)) * 1e6)
        |         AS BIGINT) AS prior_micro
        |  FROM documents),
        |sums AS (
        |  SELECT t.doc_id, SUM(m.w_micro) AS wsum
        |  FROM toks t JOIN model m USING (token) GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(s.wsum, 0) + p.prior_micro AS BIGINT) AS score_micro,
        |       (COALESCE(s.wsum, 0) + p.prior_micro) > 0 AS pred
        |FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id, prior p
        |ORDER BY d.doc_id""".stripMargin),
    // replays bigram-LM training: same tokenization, same min-count vocab,
    // add-one-smoothed conditional log-prob in integer micronats (every
    // integer operand < 2^53, so each ln argument is the same IEEE double)
    "t_lm_model" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS words
        |  FROM documents),
        |uni AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c_uni
        |  FROM (SELECT unnest(words) AS token FROM toks)
        |  GROUP BY token HAVING COUNT(*) >= 2),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        |idx AS (SELECT doc_id, words,
        |               unnest(generate_series(1, len(words) - 1)) AS i
        |        FROM toks),
        |bg AS (SELECT words[i] AS w1, words[i + 1] AS w2 FROM idx),
        |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
        |       FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 2)
        |SELECT cb.w1, cb.w2, cb.c_big, u1.c_uni,
        |       CAST(ROUND(LN((cb.c_big + 1.0) / (u1.c_uni + v.v)) * 1e6)
        |            AS BIGINT) AS w_micro
        |FROM cb
        |JOIN uni u1 ON cb.w1 = u1.token
        |JOIN uni u2 ON cb.w2 = u2.token, v
        |ORDER BY cb.w1, cb.w2""".stripMargin),
    // replays scoring: model-hit NLL, in-vocab smoothing backoff
    // 1/(c_uni+V), out-of-vocab floor 1/V; integer sums and integer mean
    "t_lm_score" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS words
        |  FROM documents),
        |uni AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c_uni
        |  FROM (SELECT unnest(words) AS token FROM toks)
        |  GROUP BY token HAVING COUNT(*) >= 2),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        |idx AS (SELECT doc_id, words,
        |               unnest(generate_series(1, len(words) - 1)) AS i
        |        FROM toks),
        |bg AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2 FROM idx),
        |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
        |       FROM (SELECT w1, w2 FROM bg) GROUP BY w1, w2
        |       HAVING COUNT(*) >= 2),
        |model AS (
        |  SELECT cb.w1, cb.w2,
        |         CAST(ROUND(LN((cb.c_big + 1.0) / (u1.c_uni + v.v)) * 1e6)
        |              AS BIGINT) AS w_micro
        |  FROM cb
        |  JOIN uni u1 ON cb.w1 = u1.token
        |  JOIN uni u2 ON cb.w2 = u2.token, v),
        |nlls AS (
        |  SELECT b.doc_id,
        |         CASE WHEN m.w_micro IS NOT NULL THEN -m.w_micro
        |              WHEN u.c_uni IS NOT NULL THEN
        |                CAST(ROUND(LN(u.c_uni + v.v) * 1e6) AS BIGINT)
        |              ELSE CAST(ROUND(LN(v.v) * 1e6) AS BIGINT) END AS nll
        |  FROM bg b
        |  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        |  LEFT JOIN uni u ON b.w1 = u.token, v),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |               CAST(SUM(nll) AS BIGINT) AS nll_micro
        |        FROM nlls GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(COALESCE(a.nll_micro, 0) AS BIGINT) AS nll_micro,
        |       CASE WHEN COALESCE(a.n_bigrams, 0) > 0
        |            THEN a.nll_micro // a.n_bigrams END AS avg_nll_micro
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // replays the full simhash pipeline with the replayable polynomial
    // hash: same 2-word shingles, same 63-bit majority vote, then ALL-PAIRS
    // hamming <= 3 — complete by pigeonhole over the engine's 4x16-bit
    // bands, so banded-and-capped candidate generation must reproduce it
    "d_simhash_poly" ->
      ("""WITH n AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm FROM documents),
        |w1 AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(0, greatest(len(words) - 2, 0)),
        |    i -> array_to_string(list_slice(words, i + 1, i + 2), ' '))) AS grams
        |  FROM w1),
        |hs AS (
        |  SELECT doc_id, list_transform(grams,
        |    g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(generate_series(1, greatest(length(g), 1)),
        |             j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS BIGINT))),
        |           (a, c) -> (a * 31 + c) % 9007199254740881)) AS hh
        |  FROM sh),
        |sg AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 62),
        |    b -> CASE WHEN list_sum(list_transform(hh, h -> ((h >> b) & 1) * 2 - 1)) >= 0
        |              THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        |  FROM hs)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // wide-band twin: the same shingle grams hashed by TWO polynomial
    // families (fold multipliers 31 and 37), two 63-bit majority
    // signatures, hamming summed over the combined 126 bits — the banded
    // engine output is pigeonhole-complete at <= 3, so it must EQUAL this
    // all-pairs join
    "d_simhash_wide_poly" ->
      ("""WITH n AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm FROM documents),
        |w1 AS (SELECT doc_id, string_split(norm, ' ') AS words FROM n),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(0, greatest(len(words) - 2, 0)),
        |    i -> array_to_string(list_slice(words, i + 1, i + 2), ' '))) AS grams
        |  FROM w1),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(grams,
        |      g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(1, greatest(length(g), 1)),
        |               j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS BIGINT))),
        |             (a, c) -> (a * 31 + c) % 9007199254740881)) AS ha,
        |    list_transform(grams,
        |      g -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(generate_series(1, greatest(length(g), 1)),
        |               j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS BIGINT))),
        |             (a, c) -> (a * 37 + c) % 9007199254740881)) AS hb
        |  FROM sh),
        |sg AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 62),
        |      b -> CASE WHEN list_sum(list_transform(ha, h -> ((h >> b) & 1) * 2 - 1)) >= 0
        |                THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS siga,
        |    CAST(list_sum(list_transform(generate_series(0, 62),
        |      b -> CASE WHEN list_sum(list_transform(hb, h -> ((h >> b) & 1) * 2 - 1)) >= 0
        |                THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sigb
        |  FROM hs)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(bit_count(xor(a.siga, b.siga)) + bit_count(xor(a.sigb, b.sigb)) AS INT) AS hamming
        |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.siga, b.siga)) + bit_count(xor(a.sigb, b.sigb)) <= 3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // replays winnowFingerprintsPoly step by step: same normalization, same
    // per-char codepoint list, same fold((acc*31+c) % P) gram hash over
    // slices, same window-min + distinct; list_slice's inclusive end maps
    // to Spark slice(arr, start, LENGTH) via end = w + window
    "t_winnow_poly" ->
      ("""WITH n AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id, norm,
        |    list_transform(generate_series(1, greatest(length(norm), 1)),
        |      i -> CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT)) AS codes
        |  FROM n),
        |g AS (
        |  SELECT doc_id, norm,
        |    list_transform(generate_series(1, greatest(length(norm) - 7, 1)),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(codes, i, i + 7)),
        |                       (a, x) -> (a * 31 + x) % 9007199254740881)) AS gh
        |  FROM c),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN length(norm) < 8 THEN CAST([] AS BIGINT[])
        |         ELSE list_distinct(list_transform(
        |                generate_series(0, greatest(len(gh) - 4, 0)),
        |                w -> list_min(list_slice(gh, w + 1, w + 4)))) END AS fps
        |  FROM g)
        |SELECT doc_id,
        |  CAST(len(fps) AS BIGINT) AS n_fp,
        |  CAST(COALESCE(list_min(fps), 0) AS BIGINT) AS fp_min,
        |  CAST(COALESCE(list_max(fps), 0) AS BIGINT) AS fp_max,
        |  CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_sum
        |FROM w ORDER BY doc_id""".stripMargin),
    // replays langId exactly: one union scan for single-word markers, a
    // separate scan for the only multi-word marker ("de la", so it cannot
    // be swallowed by the non-overlapping union scan), then argmax with
    // Spark's struct-array_max tie-break (max score, then lexicographically
    // greatest language code)
    "t_lang" ->
      ("""WITH h AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    regexp_extract_all(lower(text), '\b(the|and|of|is|to|that|der|und|die|ist|das|nicht|le|la|et|les|des|est|el|los|que|es|una|il|di|che|per|o|de|do|da|uma|het|een|van|en|niet)\b', 1) AS hits
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(hits, x -> x IN ('the','and','of','is','to','that'))) AS s_en,
        |    len(list_filter(hits, x -> x IN ('der','und','die','ist','das','nicht'))) AS s_de,
        |    len(list_filter(hits, x -> x IN ('le','la','et','les','des','est'))) AS s_fr,
        |    len(list_filter(hits, x -> x IN ('el','los','que','es','una')))
        |      + len(regexp_extract_all(lt, '\b(de\s+la)\b')) AS s_es,
        |    len(list_filter(hits, x -> x IN ('il','di','che','la','per','una'))) AS s_it,
        |    len(list_filter(hits, x -> x IN ('o','de','que','do','da','uma'))) AS s_pt,
        |    len(list_filter(hits, x -> x IN ('de','het','een','van','en','niet'))) AS s_nl
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN m = 0 THEN 'und'
        |       WHEN s_pt = m THEN 'pt' WHEN s_nl = m THEN 'nl'
        |       WHEN s_it = m THEN 'it' WHEN s_fr = m THEN 'fr'
        |       WHEN s_es = m THEN 'es' WHEN s_en = m THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_it, s_pt, s_nl) AS m FROM s)
        |ORDER BY doc_id""".stripMargin),
    // mirrors TextAnalysis.qualityColumns/qualityScoreFrom with the same
    // expression tree so double arithmetic is IEEE-identical on both sides
    "t_analysis" ->
      ("""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE) AS w,
        |    greatest(CAST(length(text) AS DOUBLE), 1.0) AS safe_len,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CAST(length(text) - length(translate(text, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '')) AS DOUBLE) AS n_punct,
        |    CAST(length(text) - length(translate(text, '0123456789', '')) AS DOUBLE) AS n_digit,
        |    CAST(length(text) - length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '')) AS DOUBLE) AS n_upper,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|that|it|for)\b')) AS DOUBLE) AS stop_hits
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
        |    n_punct / safe_len AS punct_ratio,
        |    n_digit / safe_len AS digit_ratio,
        |    n_upper / safe_len AS upper_ratio,
        |    len / greatest(w, 1.0) AS mean_word_len,
        |    stop_hits / greatest(w, 1.0) AS stopword_ratio,
        |    w
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, punct_ratio, digit_ratio, upper_ratio, mean_word_len, stopword_ratio,
        |  round((least(w / 50.0, 1.0)
        |       + (1.0 - least(punct_ratio * 4.0, 1.0))
        |       + (1.0 - least(digit_ratio * 4.0, 1.0))
        |       + (CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.4 END)
        |       + least(stopword_ratio * 3.0, 1.0)) / 5.0, 4) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin),
    // replays the dashboard end-to-end: the t_analysis signal chain for
    // n_tokens/quality (integer 1e-4 units), the d_exact normalization for
    // the distinct count, and the grouped q_hll_est register/estimate
    // chain over the normalized text. Round 10 hardening (after the r9
    // driver artifact disproved the integer-median hypothesis): median()
    // replaced by explicit rank interpolation over grouped counts, and the
    // round(…, 6) finals decomposed into integer-scaled arithmetic — both
    // sides now derive every inexact column from the same exact BIGINT.
    "t_dashboard" ->
      (s"""WITH $dashSignalCtes,
        |agg AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    COUNT(DISTINCT norm) AS n_distinct,
        |    CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |    CAST(SUM(qi) AS BIGINT) AS qsum
        |  FROM r GROUP BY 1, 2),
        |cntm AS (SELECT source, lang, ntok, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
        |rkm AS (SELECT source, lang, ntok,
        |          SUM(c) OVER (PARTITION BY source, lang ORDER BY ntok) AS cum,
        |          SUM(c) OVER (PARTITION BY source, lang) AS n
        |        FROM cntm),
        |md AS (SELECT source, lang,
        |         MIN(CASE WHEN cum >= (n + 1) // 2 THEN ntok END) AS mlo,
        |         MIN(CASE WHEN cum >= n // 2 + 1 THEN ntok END) AS mhi
        |       FROM rkm GROUP BY 1, 2),
        |$dashHllCtesScaled
        |SELECT agg.source, agg.lang, n_docs, n_distinct,
        |  CAST(round((n_docs - n_distinct) * 1000000.0 / n_docs) AS BIGINT) / 1000000.0 AS dup_rate,
        |  est AS distinct_est, total_tokens,
        |  (mlo + mhi) / 2.0 AS med_tokens,
        |  CAST(round(qsum * 100.0 / n_docs) AS BIGINT) / 1000000.0 AS avg_quality
        |FROM agg JOIN e USING (source, lang) JOIN md USING (source, lang)
        |ORDER BY source, lang""".stripMargin),
    // ---- t_dash_ints: the permanent type-sensitivity canary (the five
    // float bisect twins retired in r12 once the family's root cause —
    // DuckDB SUM(BIGINT)=HUGEINT vs the driver's type-sensitive hash —
    // closed in r11) ----
    "t_dash_ints" ->
      (s"""WITH $dashSignalCtes,
        |agg AS (SELECT source, lang, CAST(SUM(qi) AS BIGINT) AS qsum FROM r GROUP BY 1, 2),
        |cntm AS (SELECT source, lang, ntok, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
        |rkm AS (SELECT source, lang, ntok,
        |          SUM(c) OVER (PARTITION BY source, lang ORDER BY ntok) AS cum,
        |          SUM(c) OVER (PARTITION BY source, lang) AS n
        |        FROM cntm),
        |md AS (SELECT source, lang,
        |         MIN(CASE WHEN cum >= (n + 1) // 2 THEN ntok END) AS mlo,
        |         MIN(CASE WHEN cum >= n // 2 + 1 THEN ntok END) AS mhi
        |       FROM rkm GROUP BY 1, 2),
        |$dashHllCommon
        |SELECT agg.source, agg.lang, qsum, mlo, mhi, s_obs, n_obs
        |FROM agg JOIN md USING (source, lang) JOIN s USING (source, lang)
        |ORDER BY source, lang""".stripMargin),
    "s_knn" ->
      """SELECT query_id, neighbor_id, cosine, rnk AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INT) AS rnk
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // full-probe IVF must equal brute force — same oracle as s_knn
    "s_ivf_exact" ->
      """SELECT query_id, neighbor_id, cosine, rnk AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INT) AS rnk
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  )
}
