package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Similarity

/** Equivalence fence for the fused `cosine_sim` expression: it must be
  * BIT-IDENTICAL (not approximately equal — the driver's oracle hashes
  * exact values after a 6-decimal round, and ranking ties depend on the
  * unrounded doubles) to the zip_with/aggregate HOF formulation it
  * replaced, on the real embeddings table AND on adversarial inputs
  * (nulls, length mismatches, zero vectors, denormals).
  */
class SimilaritySuite extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", ArrayType(DoubleType, containsNull = true)),
    StructField("b", ArrayType(DoubleType, containsNull = true))))

  private def pairsDf(pairs: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) => Row(a, b) }, 2),
      schema)

  /** The zip_with/aggregate formulation `Similarity.cosine` fuses: the
    * equivalence fence's reference.
    */
  private def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  private def bitCompare(df: org.apache.spark.sql.DataFrame): Unit = {
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("fused"),
      cosineHof(col("a"), col("b")).as("hof")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val h = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      if (f == null || h == null)
        assert(f == h, s"row $i: fused=$f hof=$h")
      else
        assert(java.lang.Double.doubleToRawLongBits(f) ==
               java.lang.Double.doubleToRawLongBits(h),
          s"row $i: fused=$f hof=$h (bit patterns differ)")
    }
  }

  test("cosine_sim: bit-identical to HOF formulation on adversarial pairs") {
    def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)
    val cases: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq(d(1), d(2), d(3)), Seq(d(4), d(5), d(6))),
      (Seq(d(1), null, d(3)), Seq(d(1), d(2), d(3))),  // null element
      (Seq(d(1), d(2)), Seq(d(1), d(2), d(3))),        // length mismatch
      (Seq(d(1e-310), d(1e300)), Seq(d(1e-310), d(-1e300))), // denormal/overflow
      (Seq(d(-1), d(-2)), Seq(d(1), d(2))))
    bitCompare(pairsDf(cases))
    // zero-norm vectors: ANSI-mode Divide THROWS on them (the HOF path's
    // one behavioral landmine); the fused loop returns NULL — Spark's
    // legacy Divide semantics, fenced here with ANSI off where the HOF
    // path agrees.
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      bitCompare(pairsDf(Seq(
        (Seq(d(0), d(0)), Seq(d(1), d(2))),
        (Seq(d(0), d(0)), Seq(d(0), d(0))),
        (Seq.empty, Seq.empty))))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    // and under ANSI the fused expression returns NULL, not an error
    val z = pairsDf(Seq((Seq(d(0), d(0)), Seq(d(1), d(2)))))
      .select(Similarity.cosine(col("a"), col("b"))).head()
    assert(z.isNullAt(0))
  }

  test("cosine_sim: bit-identical on 300 random vectors") {
    val gen = Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))
    val rng = new scala.util.Random(42)
    val vecs = (0 until 300).map { i =>
      val a = gen(Gen.Parameters.default, Seed(i.toLong)).get.map(java.lang.Double.valueOf)
      val b = gen(Gen.Parameters.default, Seed(i.toLong + 1000)).get.map(java.lang.Double.valueOf)
      (a: Seq[java.lang.Double], b: Seq[java.lang.Double])
    }
    bitCompare(pairsDf(vecs))
  }

  test("cosine_sim: bit-identical on the real embeddings table (all pairs of first 40)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
      .filter(col("vec_id") < 40)
      .select(col("vec_id"), col("v"))
    val pairs = e.as("x").crossJoin(e.as("y"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
    bitCompare(pairs)
  }

  test("cosine_sim survives whole-stage codegen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
    val df = e.select(Similarity.cosine(col("v"), col("v")).as("c"))
    assert(df.filter(col("c").isNotNull).count() > 0) // execute (finalize AQE)
    // "*(n)" is the WholeStageCodegen marker in simpleString plans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), plan)
  }

  test("dot_const / neg_sq_dist: bit-identical to the HOF folds") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>")).limit(300)
    val dim = e.select(size(col("v"))).head().getInt(0)
    val weights = Seq.fill(dim)(rnd.nextGaussian())
    val wArr = array(weights.map(lit): _*)
    val hofDot = aggregate(zip_with(col("v"), wArr, (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val hofNsd = aggregate(zip_with(col("v"), wArr, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x) * -1.0
    val out = e.select(
      graft.functions.VecOps.dotConst(col("v"), weights).as("fd"),
      hofDot.as("hd"),
      graft.functions.VecOps.negSqDist(col("v"), weights).as("fn"),
      hofNsd.as("hn")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"dot row $i")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToRawLongBits(r.getDouble(3)), s"nsd row $i")
    }
  }

  test("sq_dist_lq: bit-identical to the long-vs-double HOF fold") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
      .select(
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("q"),
        transform(col("embedding"), x => x.cast("double") * 997.0).as("c"))
    val hof = aggregate(
      zip_with(col("q"), col("c"), (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    val out = e.select(
      graft.functions.VecOps.sqDistLongDouble(col("q"), col("c")).as("f"),
      hof.as("h")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"row $i")
    }
  }
}
