package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Property-style invariants over randomized data (seeded, deterministic):
  *  - join fan-out immunity: measures unchanged under a random 1:N join
  *  - percent-of-total sums to 100
  *  - chained AT (ALL a) AT (ALL b) == AT (ALL a b) == AT (ALL)
  *  - AT (ALL dim) is constant within remaining-dim partitions
  * (SURVEY §5 test plan.)
  */
class PropertySuite extends SparkSpec {

  lazy val engine: GraftEngine = GraftEngine(spark)

  private def mkSales(seed: Int, n: Int): Unit = {
    val rnd = new Random(seed)
    val years = Seq(2020, 2021, 2022, 2023)
    val regions = Seq("US", "EU", "APAC")
    val rows = (1 to n).map { i =>
      s"(${years(rnd.nextInt(years.length))}, '${regions(rnd.nextInt(regions.length))}', ${rnd.nextInt(1000) + 1}.0)"
    }
    engine.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW prop_sales AS SELECT * FROM VALUES ${rows.mkString(", ")} AS t(year, region, amount)")
    engine.sql("CREATE OR REPLACE VIEW prop_v AS SELECT year, region, SUM(amount) AS MEASURE rev FROM prop_sales")
  }

  test("property: pct_of_total sums to 100 per seed") {
    for (seed <- Seq(1, 7, 42)) {
      mkSales(seed, 60)
      val df = engine.sql(
        """SELECT year, region, 100.0 * AGGREGATE(rev) / AGGREGATE(rev) AT (ALL) AS pct FROM prop_v""")
      val total = df.agg(sum(col("pct").cast("double"))).head().getDouble(0)
      assert(math.abs(total - 100.0) < 1e-9, s"seed=$seed pct sum was $total")
    }
  }

  test("property: chained ALL == multi-dim ALL == grand total") {
    for (seed <- Seq(3, 11)) {
      mkSales(seed, 50)
      val chained = rows(engine.sql(
        "SELECT year, region, AGGREGATE(rev) AT (ALL year) AT (ALL region) AS g FROM prop_v"))
      val multi = rows(engine.sql(
        "SELECT year, region, AGGREGATE(rev) AT (ALL year region) AS g FROM prop_v"))
      val grand = rows(engine.sql(
        "SELECT year, region, AGGREGATE(rev) AT (ALL) AS g FROM prop_v"))
      assert(chained == multi, s"seed=$seed chained != multi")
      assert(chained == grand, s"seed=$seed chained != grand")
    }
  }

  test("property: AT (ALL dim) constant within remaining-dim partitions") {
    for (seed <- Seq(5, 19)) {
      mkSales(seed, 80)
      val df = engine.sql(
        "SELECT year, region, AGGREGATE(rev) AT (ALL region) AS year_total FROM prop_v")
      val distinctPerYear = df.groupBy("year")
        .agg(countDistinct("year_total").as("n")).agg(max("n")).head().getLong(0)
      assert(distinctPerYear == 1L, s"seed=$seed AT (ALL region) varied within a year")
    }
  }

  test("property: fan-out immunity under random 1:N join") {
    for (seed <- Seq(2, 13)) {
      mkSales(seed, 40)
      val rnd = new Random(seed + 100)
      // random N-side table: each (year, region) key appears 0..5 times
      val keys = for (y <- Seq(2020, 2021, 2022, 2023); r <- Seq("US", "EU", "APAC")) yield (y, r)
      val fanRows = keys.flatMap { case (y, r) =>
        Seq.fill(rnd.nextInt(6))(s"($y, '$r', ${rnd.nextInt(50)})")
      }
      if (fanRows.nonEmpty) {
        engine.sql(
          s"CREATE OR REPLACE TEMPORARY VIEW prop_fan AS SELECT * FROM VALUES ${fanRows.mkString(", ")} AS t(year, region, clicks)")
        val base = rows(engine.sql("SELECT AGGREGATE(rev) AS total FROM prop_v"))
        val jnd = rows(engine.sql(
          "SELECT AGGREGATE(rev) AS total FROM prop_v v JOIN prop_fan f ON v.year = f.year AND v.region = f.region"))
        assert(base == jnd, s"seed=$seed fan-out changed the measure: $base vs $jnd")
      }
    }
  }

  for ((suffix, setting) <- ccPaths)
    test("property: connectedComponents matches a local union-find oracle" + suffix) {
      import spark.implicits._
      onCcPath(setting) {
        for (seed <- 1 to 5) {
          val rnd = new Random(seed)
          val n = 40
          val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
            .filter { case (a, b) => a != b }
            .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
          // local union-find ground truth
          val parent = Array.tabulate(n)(identity)
          def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
          edges.foreach { case (a, b) =>
            val (ra, rb) = (find(a.toInt), find(b.toInt))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val nodesInEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
          val expected = nodesInEdges.map(v => v -> find(v.toInt).toLong).toMap
          val got = graft.ops.Dedup.connectedComponents(
              edges.toDF("doc_id_a", "doc_id_b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected, s"seed=$seed: got $got\nexpected $expected")
        }
      }
    }

  test("property: sessionization invariants on random event streams") {
    import spark.implicits._
    for (seed <- Seq(3, 17, 91)) {
      val rnd = new Random(seed)
      val gap = 50L
      // 6 users, bursty timestamps so both intra- and inter-session gaps occur
      val events = (1 to 400).map { i =>
        (i.toLong, rnd.nextInt(6).toLong, math.abs(rnd.nextLong() % 5000L), rnd.nextInt(100).toDouble)
      }
      val df = events.toDF("event_id", "user_id", "t", "value")
      val tagged = graft.ops.Sessions.byGap(df, "user_id", "t", "event_id", gap)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("t"),
          r.getAs[Long]("event_id"), r.getAs[Long]("session_seq")))
      for ((user, evs) <- tagged.groupBy(_._1)) {
        val sorted = evs.sortBy(e => (e._2, e._3))
        // session ids are contiguous from 1 and non-decreasing in time order
        assert(sorted.head._4 == 1L, s"seed=$seed user=$user first session != 1")
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            val gapHere = b._2 - a._2
            if (b._4 == a._4)
              assert(gapHere <= gap, s"seed=$seed user=$user intra-session gap $gapHere > $gap")
            else {
              assert(b._4 == a._4 + 1, s"seed=$seed user=$user session ids skipped")
              assert(gapHere > gap, s"seed=$seed user=$user split on gap $gapHere <= $gap")
            }
          case _ =>
        }
      }
    }
  }

  test("CURRENT resolves WHERE-pinned dims to the constant") {
    // CURRENT year with year = 2022 pinned in WHERE but not grouped
    // (reference: where_has_simple_equality_constraint, measures.rs:3455)
    mkSales(23, 50)
    val pinned = rows(engine.sql(
      "SELECT region, AGGREGATE(rev) AT (ALL region SET year = CURRENT year - 1) AS prior FROM prop_v WHERE year = 2022 GROUP BY region"))
    val literal = rows(engine.sql(
      "SELECT region, AGGREGATE(rev) AT (ALL region SET year = 2021) AS prior FROM prop_v WHERE year = 2022 GROUP BY region"))
    assert(pinned == literal, s"CURRENT pinning mismatch: $pinned vs $literal")
  }

  test("property: self-contamination flags every doc with >= n tokens") {
    import spark.implicits._
    val rnd = new Random(11)
    val docs = (0L until 60L).map { i =>
      val words = Seq.fill(rnd.nextInt(8))(s"w${rnd.nextInt(20)}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    // corpus screened against itself: every doc with at least one gram
    // shares ALL its grams with the benchmark -> frac 1.0, flagged
    val got = graft.ops.Curation.contaminationCheck(docs, docs).collect()
    got.foreach { r =>
      val (nGrams, nShared, frac, flag) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
      if (nGrams > 0) {
        assert(nShared == nGrams && frac == 1.0 && flag,
          s"doc ${r.getLong(0)}: $nShared/$nGrams shared, flag=$flag")
      } else assert(nShared == 0L && !flag)
    }
  }

  test("property: rebalanceToMixture hits target proportions within sampling noise") {
    import spark.implicits._
    val rnd = new Random(23)
    // sources with deliberately unequal sizes
    val df = (0L until 3000L).map { i =>
      val src = if (i < 1800) "big" else if (i < 2600) "mid" else "small"
      (i, s"doc $i ${rnd.nextInt()}", src)
    }.toDF("doc_id", "text", "source")
    val kept = graft.ops.Curation.rebalanceToMixture(df,
        Map("big" -> 1L, "mid" -> 1L, "small" -> 1L), seed = 13)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // equal weights, feasible N* = 3 * min(count) = 1200 -> ~400 per source
    val target = 400.0
    for ((s, n) <- kept)
      assert(math.abs(n - target) / target < 0.15, s"$s kept $n, target $target")
    // the binding source (smallest) keeps everything: threshold == P2
    assert(kept("small") == 400L, s"binding source must keep all: ${kept("small")}")
  }

  test("property: bigram-LM scores match a local replay on random corpora") {
    import spark.implicits._
    // brute-force replay of the exact LangModel formula in plain Scala;
    // any divergence (smoothing, backoff tier, rounding, integer mean)
    // fails on some random corpus
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new Random(seed)
      val vocabPool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
      val docsLocal = (1L to 60L).map { i =>
        val n = 1 + rnd.nextInt(8)
        (i, Seq.fill(n)(vocabPool(rnd.nextInt(vocabPool.size))).mkString(" "))
      }
      val df = docsLocal.toDF("doc_id", "text")
      val minCount = 2
      // Spark's round() and DuckDB's ROUND both round halves AWAY FROM
      // ZERO; Java's math.round rounds toward +infinity, which disagrees
      // on negative *.5 (w_micro is always negative). Mirror the engines.
      def roundAway(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      // local model
      val tokens = docsLocal.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val uniAll = tokens.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val uni = uniAll.filter(_._2 >= minCount)
      val v = uni.size.toLong
      val bigAll = tokens.flatMap { case (_, ws) => ws.zip(ws.drop(1)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val model = bigAll.collect {
        case ((w1, w2), c) if c >= minCount && uni.contains(w1) && uni.contains(w2) =>
          (w1, w2) -> roundAway(math.log((c + 1.0) / (uni(w1) + v)) * 1e6)
      }.toMap
      def nll(w1: String, w2: String): Long =
        model.get((w1, w2)).map(-_).getOrElse(
          uni.get(w1) match {
            case Some(c) => roundAway(math.log(c.toDouble + v) * 1e6)
            case None => roundAway(math.log(v.toDouble) * 1e6)
          })
      val want = tokens.map { case (id, ws) =>
        val pairs = ws.zip(ws.drop(1))
        val s = pairs.map { case (a, b) => nll(a, b) }.sum
        id -> ((pairs.size.toLong, s,
          if (pairs.nonEmpty) Some(s / pairs.size) else None))
      }.toMap
      val uniDf = graft.ops.LangModel.unigramCounts(df, minCount = minCount)
      val modelDf = graft.ops.LangModel.trainBigramLm(df, uniDf, minCount = minCount)
      val got = graft.ops.LangModel.scoreBigramLm(df, modelDf, uniDf)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(got == want, s"seed=$seed: spark=$got local=$want")
    }
  }
}
