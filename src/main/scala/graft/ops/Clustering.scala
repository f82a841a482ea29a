package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VecOps

/** K-means clustering over embedding columns — the semantic-clustering
  * primitive behind corpus curation (topic balancing, diversity sampling,
  * cluster-level dedup) and the coarse quantizer shape IVF indexes use.
  *
  * Determinism is engineered in, not hoped for:
  *   - Vectors are QUANTIZED to integers (`round(x * scale)`) before any
  *     cross-row arithmetic, so centroid accumulation is exact integer
  *     addition — independent of partition order. At 1000 executors a
  *     float sum would differ run-to-run in the last ulp and make results
  *     unreproducible; integer accumulators are the standard fix, and they
  *     also make the whole operator oracle-checkable.
  *   - Centroid components are `sum / count` in ONE double division, and
  *     point-to-centroid distances fold components in index order, so
  *     every float value has exactly one computation path.
  *   - Argmin ties break on the centroid index via lexicographic
  *     (distance, index) struct-min on both engines.
  *
  * Scale shape (100 TB): each Lloyd round is one broadcast of k centroids
  * against a narrow scan (assignment — no shuffle of the corpus), plus one
  * (cluster, component)-keyed partial-aggregate shuffle whose volume is
  * rows × dim longs, map-side combined down to the k × dim sums the driver
  * collects and divides ([[lloydRound]]). Initial centroids
  * are the k smallest ids (at real scale: a seeded reservoir sample —
  * same broadcast shape). Empty clusters drop out of the update (standard
  * Lloyd behavior; both engines agree). Vectors whose estimated size fits
  * the driver budget ([[DriverBudget]]) skip all of that: [[kmeans]] reads
  * them once and runs the same rounds on the driver.
  */
object Clustering {

  /** Squared L2 distance between the quantized vector `q` (array<long>)
    * and a centroid vector `c` (array<double>), folded in index order.
    */
  private[graft] def sqDist(q: Column, c: Column): Column =
    // fused kernel, IEEE-identical to the zip_with/aggregate fold it
    // replaces (fenced in SimilaritySuite)
    VecOps.sqDistLongDouble(q, c)

  /** One assignment pass: nearest centroid per vector, ties to the lowest
    * centroid index. The centroid table (k rows — bounded by construction:
    * flat k or the coarse kSuper ≈ √k) is collected once per round and
    * folded into a fused argmin PROJECTION
    * (functions.VecOps.argminSqDist): the corpus is never cross-joined,
    * grouped or sorted — assignment is a map over the scan. The joined
    * formulation this replaces (r13, kept in RelevanceClusteringSuite as
    * the fence reference) paid crossJoin × k plus a struct-min
    * aggregation that falls to SortAggregate and drags every quantized
    * vector through an exchange and two sorts. Distance fold and tie/null semantics are
    * IEEE-identical (argminSqFold scaladoc; fenced in
    * RelevanceClusteringSuite); the coalesce preserves the joined path's
    * null-q behavior (all distances null → lowest cidx wins struct-min).
    * Requires unique vec_id, which the q builder guarantees.
    */
  private[graft] def assign(q: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cidx"), col("cvec")).collect()
      .map { r =>
        // only an initial centroid can be NULL: a round's centroids are sums
        if (r.isNullAt(1)) throw nullInitialVector(r.getInt(0))
        (r.getInt(0), r.getSeq[Double](1))
      }.sortBy(_._1)
    // empty centroid table: the joined formulation returned an empty frame
    // (crossJoin with nothing); `cents.head` below would throw instead —
    // bounded today (k >= 1 by construction) but guarded all the same
    if (cents.isEmpty)
      return q.filter(lit(false))
        .select(col("vec_id"), col("q"), lit(null).cast("int").as("cluster"))
    q.select(col("vec_id"), col("q"),
      coalesce(
        graft.functions.VecOps.argminSqDist(col("q"),
          cents.map(_._1).toSeq, cents.map(_._2).toSeq),
        lit(cents.head._1)).as("cluster"))
  }

  /** The error of [[kmeans]] on a NULL vector whose id is below k: it would
    * be an initial centroid, and a NULL centroid has no distance to rank.
    */
  private def nullInitialVector(id: Long) = new IllegalArgumentException(
    s"kmeans: the vector of vec_id $id is NULL, and ids below k are the initial centroids")

  private val CentroidSchema = StructType(Seq(
    StructField("cidx", IntegerType), StructField("cvec", ArrayType(DoubleType))))

  /** One Lloyd round: assign `q` to `centroids`, then one collect of the
    * exact integer per-(cluster, component) sums and counts (one
    * map-side-combined shuffle, k × dim rows), divided once on the driver
    * into ordered double arrays. A long → double conversion followed by a
    * double divide is the same IEEE operation in Spark and here, so each
    * component is the oracle's `CAST(s AS DOUBLE) / CAST(n AS DOUBLE)`.
    * The centroids come back as a local relation: the next round reads
    * them without a job, and no round's plan nests inside the next.
    */
  private[graft] def lloydRound(q: DataFrame, centroids: DataFrame): DataFrame = {
    val sums = assign(q, centroids)
      .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect()
    val rows = sums.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (c, parts) =>
      Row(c, parts.sortBy(_.getInt(1)).map { r =>
        if (r.isNullAt(2)) null
        else java.lang.Double.valueOf(r.getLong(2).toDouble / r.getLong(3).toDouble)
      }.toSeq)
    }
    q.sparkSession.createDataFrame(rows.asJava, CentroidSchema)
  }

  /** Lloyd k-means: `iters` update rounds, then a final assignment.
    * Returns (vec_id, cluster). `scale` controls quantization resolution
    * (1000 keeps 3 decimal digits; unit-norm embeddings lose < 0.1%).
    *
    * Dispatch: quantized vectors that fit the driver budget run every round
    * on the driver and come back as a local relation ([[kmeansLocal]]: one
    * bounded read instead of a job per round); larger ones run the rounds
    * distributed ([[lloydRound]], [[assign]]). Both give the same rows
    * (fenced in RelevanceClusteringSuite).
    */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 1, scale: Int = 1000,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && iters >= 0, "kmeans: k and iters must be positive")
    val q = embeddings.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long")).as("q"))
    kmeansLocal(q, k, iters).getOrElse {
      var centroids = q.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cidx"),
          transform(col("q"), x => x.cast("double")).as("cvec"))
      for (_ <- 1 to iters) centroids = lloydRound(q, centroids)
      assign(q, centroids)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
    }
  }

  /** [[kmeans]] on the driver, when the quantized vectors `q` fit the
    * driver budget ([[DriverBudget]]); None otherwise. The gate is the
    * optimizer's size estimate of `q`, so no pass over the data decides
    * it. The vectors are then read once with a bounded collect: at most
    * the rows of the budget at 8 bytes per id and per component of the
    * first vector, and their whole payload at that rate must fit it too,
    * so an estimate that was wrong falls back after one bounded read.
    *
    * The same rounds as the distributed path, on the same values: the
    * quantization is Spark's (`q` is collected, not recomputed); the
    * initial centroids are the vectors with id < k in read order, sorted
    * by index; every assignment calls [[VecOps.argminSqFold]], the kernel
    * the fused argmin projection runs, and a NULL vector takes the lowest
    * index; each update sums exact LONGs per (cluster, component) and
    * divides once (long → double), a NULL component sum counts as 0.0 (a
    * collected NULL `cvec` element unboxes to 0.0 in [[assign]]), and a
    * cluster with no component left drops out. A NULL initial vector
    * raises the distributed path's error; an id < k out of INT range takes
    * that path, so it fails the same way.
    * Returns a local relation, as `Dedup.connectedComponents` does.
    */
  private def kmeansLocal(q: DataFrame, k: Int, iters: Int): Option[DataFrame] = {
    val spark = q.sparkSession
    if (!DriverBudget.fitsEstimate(q)) return None
    def len(r: Row): Int = if (r.isNullAt(1)) 0 else r.getSeq[Any](1).length
    val width = 8L * (1 + math.max(q.head(1).headOption.map(len).getOrElse(0), 1))
    val maxRows = DriverBudget.rows(spark, width)
    val read = q.limit(maxRows + 1).collect()
    if (read.length > maxRows || read.map(r => 8L * (1 + len(r))).sum > DriverBudget.bytes(spark))
      return None
    val vecs = read.map(r => if (r.isNullAt(1)) null
      else new GenericArrayData(r.getSeq[Any](1).toArray): ArrayData)
    val init = read.indices.filter(i => !read(i).isNullAt(0) && read(i).getLong(0) < k)
    init.find(vecs(_) == null).foreach(i => throw nullInitialVector(read(i).getLong(0)))
    if (init.exists(read(_).getLong(0) < Int.MinValue)) return None
    val sorted = init.sortBy(read(_).getLong(0))
    var cidx = sorted.map(read(_).getLong(0).toInt).toArray
    var cents = sorted.map { i =>
      Array.tabulate(vecs(i).numElements())(p =>
        if (vecs(i).isNullAt(p)) 0.0 else vecs(i).getLong(p).toDouble)
    }.toArray
    def nearest(i: Int): Int =
      if (vecs(i) == null) cidx(0) else VecOps.argminSqFold(vecs(i), cidx, cents)
    val dim = vecs.iterator.filter(_ != null).map(_.numElements()).maxOption.getOrElse(0)
    for (_ <- 1 to iters if cidx.nonEmpty) {
      // per cluster and component: the sum, the count and whether any value was non-NULL
      val sums = mutable.HashMap.empty[Int, (Array[Long], Array[Long], Array[Boolean])]
      for (i <- vecs.indices if vecs(i) != null && vecs(i).numElements() > 0) {
        val (s, n, seen) = sums.getOrElseUpdate(nearest(i),
          (new Array[Long](dim), new Array[Long](dim), new Array[Boolean](dim)))
        val v = vecs(i)
        for (p <- 0 until v.numElements()) {
          n(p) += 1
          if (!v.isNullAt(p)) { s(p) = Math.addExact(s(p), v.getLong(p)); seen(p) = true }
        }
      }
      val next = sums.toArray.sortBy(_._1)
      cidx = next.map(_._1)
      cents = next.map { case (_, (s, n, seen)) =>
        Array.tabulate(n.lastIndexWhere(_ > 0) + 1)(p =>
          if (seen(p)) s(p).toDouble / n(p).toDouble else 0.0)
      }
    }
    val out = if (cidx.isEmpty) Seq.empty[Row]
      else read.indices.map(i => Row(read(i).get(0), nearest(i)))
    Some(spark.createDataFrame(out.asJava, StructType(Seq(
      q.schema("vec_id"), StructField("cluster", IntegerType, nullable = false)))))
  }

  /** Two-level Lloyd k-means for LARGE k (the SemDeDup k ∝ corpus-size
    * recipe at 100 TB implies k in the millions, where the flat algorithm's
    * k-row centroid broadcast per Lloyd round stops being "small"):
    *
    *   - level 1 clusters the corpus into `kSuper` coarse cells exactly
    *     like [[kmeans]] — the per-round broadcast is kSuper rows, small by
    *     construction (choose kSuper ≈ √k);
    *   - level 2 runs kInner-means INSIDE each cell, with the
    *     (kSuper × kInner)-row centroid table JOINED on the cell id
    *     (shuffle-hash, co-partitioned) instead of broadcast — the step
    *     that removes the broadcast ceiling. Each row only ever meets its
    *     own cell's kInner centroids.
    *
    * Same quantized-integer discipline as [[kmeans]] (exact integer
    * accumulation, single-division centroids, (distance, index) argmin
    * ties), so results are deterministic at any parallelism. Returns
    * (vec_id, cluster) with cluster = super * kInner + inner; empty inner
    * cells drop out as in standard Lloyd.
    *
    * With `softCandidates = true` the output gains a `cluster2` column:
    * the vector's best cluster within its SECOND-nearest coarse cell (null
    * when kSuper = 1 or that cell attracted no members). This is the
    * standard hierarchical-quantizer recall mitigation — a duplicate group
    * split across a coarse boundary is reunited in the candidate phase by
    * letting each vector shop in two cells. `cluster` (the primary) is
    * bit-identical to the softCandidates = false output.
    */
  def kmeansTwoLevel(embeddings: DataFrame, kSuper: Int, kInner: Int,
                     iters: Int = 1, scale: Int = 1000,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     softCandidates: Boolean = false): DataFrame = {
    require(kSuper > 0 && kInner > 0 && iters >= 0,
      "kmeansTwoLevel: kSuper, kInner must be positive and iters >= 0")
    // cluster ids are INT to match the flat path (r9 ADVICE: a LONG here
    // made semanticDedup's output schema flip when kEff crossed
    // twoLevelFromK); the id space is kSuper * kInner, which therefore
    // must fit an INT — ~2^31 clusters, far past the k ∝ n recipe at 100 TB
    require(kSuper.toLong * kInner <= Int.MaxValue,
      "kmeansTwoLevel: kSuper * kInner must fit in an INT cluster id")
    import org.apache.spark.sql.expressions.Window
    val q = embeddings.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long")).as("q"))
    var coarse = q.filter(col("vec_id") < kSuper)
      .select(col("vec_id").cast("int").as("cidx"),
        transform(col("q"), x => x.cast("double")).as("cvec"))
    for (_ <- 1 to iters) coarse = lloydRound(q, coarse)
    // cells reused by every inner round: cache the slim (id, q, super) frame
    val cells = assign(q, coarse).withColumnRenamed("cluster", "super").persist()
    // inner init: the kInner smallest ids per cell (same convention as the
    // flat initializer, scoped per cell)
    var inner = cells
      .withColumn("__rn", row_number().over(Window.partitionBy("super").orderBy("vec_id")))
      .filter(col("__rn") <= kInner)
      .select(col("super"), (col("__rn") - 1).cast("int").as("iidx"),
        transform(col("q"), x => x.cast("double")).as("cvec"))
    // Inner assignment dispatch (r14): the centroid table is bounded by
    // kSuper * kInner BY CONSTRUCTION, so when that bound fits the driver
    // budget ([[DriverBudget]], at 8 bytes for the cell, the index and each
    // of the `dim` components, dim read from the level-1 centroids: at
    // most kSuper rows, a local relation after a Lloyd round) the
    // assignment runs as ONE fused argmin projection probing a broadcast
    // super→centroids table (functions.ArgminSqDistGroupedExpr) — no
    // shuffle-hash join, no struct-min SortAggregate, no exchange + two
    // sorts per inner Lloyd round. Past the budget (k in the millions at
    // high dim) the joined formulation below remains the path — that is
    // the two-level design's whole point. Fenced cell-identical in
    // RelevanceClusteringSuite (ties, null q, empty cells).
    val dim = coarse.collect().iterator
      .map(r => if (r.isNullAt(1)) 0 else r.getSeq[Double](1).length).maxOption.getOrElse(0)
    val innerFused = kSuper.toLong * kInner <=
      DriverBudget.rows(embeddings.sparkSession, 8L * (2 + dim))
    // fused probe over any (vec_id, super, q) frame; rows whose cell has
    // no centroids drop, matching the joined path's inner join
    def assignCellFused(points: DataFrame, cent: DataFrame): DataFrame = {
      val rows = cent.select(col("super"), col("iidx"), col("cvec")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val groups = embeddings.sparkSession.sparkContext
        .broadcast(graft.functions.GroupedCentroids(rows))
      points.select(col("vec_id"), col("super"), col("q"),
          graft.functions.VecOps.argminSqDistGrouped(col("super"), col("q"),
            groups).as("iidx"))
        .filter(col("iidx").isNotNull)
    }
    // the joined formulation — the over-budget path and the equivalence-
    // fence reference (RelevanceClusteringSuite)
    def assignInnerJoined(points: DataFrame, cent: DataFrame): DataFrame =
      points.join(cent.hint("shuffle_hash"), Seq("super"))
        .withColumn("__d", sqDist(col("q"), col("cvec")))
        .groupBy("vec_id")
        .agg(first("super").as("super"), first("q").as("q"),
          min(struct(col("__d"), col("iidx"))).as("__m"))
        .select(col("vec_id"), col("super"), col("q"), col("__m.iidx").as("iidx"))
    def assignInner(cent: DataFrame): DataFrame =
      if (innerFused) assignCellFused(cells, cent)
      else assignInnerJoined(cells, cent)
    def updateInner(assigned: DataFrame): DataFrame =
      assigned.select(col("super"), col("iidx"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("super", "iidx", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .groupBy("super", "iidx")
        .agg(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))).as("__c"))
        .select(col("super"), col("iidx"),
          transform(col("__c"), x =>
            x.getField("s").cast("double") / x.getField("n").cast("double")).as("cvec"))
    var it2 = 0
    while (it2 < iters) {
      inner = updateInner(assignInner(inner)).localCheckpoint(eager = true)
      it2 += 1
    }
    val primary = assignInner(inner)
      .select(col("vec_id"),
        (col("super").cast("long") * kInner + col("iidx")).cast("int").as("cluster"))
    val out = (if (!softCandidates) primary else {
      // candidate-phase soft assignment: per vector, the 2nd-nearest coarse
      // cell (the sorted (distance, index) list is kSuper ≈ √k structs per
      // vector — bounded), then the nearest inner centroid WITHIN that
      // cell. Ties break identically to the primary path; a missing 2nd
      // cell (kSuper = 1) or an empty one (no inner centroids) yields null.
      val second = q.crossJoin(broadcast(coarse))
        .withColumn("__d", sqDist(col("q"), col("cvec")))
        .groupBy("vec_id")
        .agg(first("q").as("q"),
          // try_element_at: 1-based, null past the end (ANSI-safe at
          // kSuper = 1, where the sorted list has a single element)
          min(struct(col("__d"), col("cidx"))).as("__m1"),
          try_element_at(sort_array(collect_list(struct(col("__d"), col("cidx")))),
            lit(2)).as("__m2"))
        // margin gate: only BOUNDARY vectors shop in the second cell. A
        // duplicate group is split by a coarse boundary only when its
        // members sit nearly equidistant from two centroids (that is what
        // straddling means), so d2 <= 1.05 * d1 (on squared distances — the
        // tightest margin in the ProbeSoftMargin sweep that still recovered
        // flat recall, PERF.md) captures the straddlers while keeping the
        // soft membership — and with it the quadratic in-cluster verify
        // cost — proportional to the boundary population, not the corpus
        // (measured in PERF.md: ungated soft was ~4x the hard wall time;
        // the sweep: `git show bbeb2bc:src/main/scala/graft/tools/ProbeSoftMargin.scala`)
        .filter(col("__m2").isNotNull &&
          col("__m2.__d") <= lit(1.05) * col("__m1.__d"))
        .select(col("vec_id"), col("q"), col("__m2.cidx").as("super"))
      // same dispatch as the primary inner assignment: fused argmin under
      // the broadcast budget, shuffle-hash join + struct-min past it
      val secondary = (if (innerFused)
          assignCellFused(second, inner)
        else
          assignInnerJoined(second, inner))
        .select(col("vec_id"),
          (col("super").cast("long") * kInner + col("iidx")).cast("int").as("cluster2"))
      primary.join(secondary, Seq("vec_id"), "left")
    }).localCheckpoint(eager = true)
    cells.unpersist()
    out
  }
}
