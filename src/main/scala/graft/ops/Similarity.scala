package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float/Double]).
  *
  * Scale design: the baseline is brute-force block join (queries broadcast,
  * corpus scanned once — linear in corpus size, the right shape when the
  * query set is small). The scale path is IVF: k-means-ish centroid
  * assignment via LSH-free bucketing on coarse quantization, probe only
  * matching buckets — corpus shuffled once by bucket, queries join only
  * their probe buckets. No driver-side collect of embeddings at any point
  * (the centroid table is small and broadcast).
  */
object Similarity {

  /** Cosine similarity between two array<double> columns — the fused
    * one-pass codegen'd expression (`functions.CosineSimExpr`). The old
    * zip_with/aggregate HOF formulation is IEEE-identical but interpreted
    * (HOFs are CodegenFallback) and materializes two intermediate arrays
    * per pair; the fused loop is ~5x cheaper per pair (SimilaritySuite
    * fences the exact equivalence).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr.cosineSim(a, b)

  /** Brute-force top-k cosine neighbors for each query vector.
    * Queries are expected to be a SMALL frame (broadcast); the corpus is
    * scanned exactly once. Returns (query_id, neighbor_id, cosine, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
    // rank on the unrounded value (round only for output) so ordering is
    // reproducible against an exact oracle
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cosine", round(col("__cos"), 6))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Int8 scale quantization of an embedding column: per-vector scale =
    * max|x| / 127, q_i = round(x_i / scale) in [-127, 127] — the standard
    * 4x (vs float32) memory reduction for ANN indexes at scale. Returns
    * (vec_id, scale, q: array<tinyint>); reconstruct with [[dequantize]].
    *
    * Narrow per-row computation. The scale is bound via [[Cols.bindOnce]]
    * so the max-abs aggregate runs once per row, not once per element.
    * All-zero vectors quantize to all zeros (scale 0 guard).
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val v = col(vecCol)
    val scaleExpr =
      aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))) / lit(127.0)
    df.select(col(idCol).as("vec_id"),
        Cols.bindOnce(scaleExpr) { sc =>
          struct(sc.as("scale"),
            when(sc === 0, transform(v, _ => lit(0).cast("tinyint")))
              .otherwise(transform(v, x => round(x / sc).cast("tinyint")))
              .as("q"))
        }.as("__s"))
      .select(col("vec_id"), col("__s.scale").as("scale"), col("__s.q").as("q"))
  }

  /** Reconstruct approximate float vectors from [[quantizeInt8]] output. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Sign-LSH bucket id from random hyperplanes (shared with Dedup).
    * Per-plane dots run through the fused `dot_const` kernel —
    * bit-identical to the HOF fold (fenced in SimilaritySuite), so the
    * bucketing is unchanged while the index build stays in codegen. */
  private def signBucket(v: Column, hyper: Seq[Seq[Double]]): Column =
    hyper.indices.map { p =>
      when(graft.functions.VecOps.dotConst(v, hyper(p)) >= 0, 1L << p).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** IVF (inverted-file) approximate top-k: k-means centroids partition the
    * corpus into cells; each query probes its `nProbe` nearest cells only.
    * The centroid table is tiny and broadcast; the corpus is shuffled once
    * by cell id at index time — at 100 TB the cell assignment is a write-
    * time layout (like bucketing) and queries touch nProbe/nCells of the
    * data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nCells: Int = 16, nProbe: Int = 3,
              vecCol: String = "embedding", idCol: String = "vec_id",
              seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // centroids are fit on a bounded sample — at 100 TB a full k-means pass
    // over the corpus would dwarf the queries it serves; ~100k rows bound the
    // fit regardless of corpus size with no measurable recall cost. The
    // count() that sizes the sample fraction reads zero columns (metadata
    // row counts on columnar sources) and the index build it gates is a
    // one-time cost amortized over every query the index serves; an
    // unconditional limit() would instead bias the fit to the first
    // partitions, which is wrong on sorted/clustered inputs.
    val maxFit = 100000L
    val n = corpus.count()
    val sampled =
      if (n <= maxFit) corpus
      else corpus.sample(withReplacement = false, maxFit.toDouble / n, seed)
    val train = sampled.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10).fit(train)
    val centroids: Array[Seq[Double]] = km.clusterCenters.map(_.toArray.toSeq)

    def cellDots(v: Column): Seq[Column] = centroids.toSeq.map { c =>
      // negative squared L2 distance to centroid (monotone for
      // nearest-cell); fused kernel, bit-identical to the HOF fold
      graft.functions.VecOps.negSqDist(v, c)
    }
    def cellRank(v: Column): Column = {
      val scored = array(cellDots(v).zipWithIndex.map { case (d, i) =>
        struct(d.as("score"), lit(i).as("cell"))
      }: _*)
      reverse(array_sort(scored))
    }

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell", cellRank(col("__cv")).getItem(0).getField("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe", explode(slice(cellRank(col("__qv")), 1, nProbe)))
      .withColumn("__cell", col("__probe.cell"))
      .select("query_id", "__qv", "__cell")

    val scored = c.join(q, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cosine", round(col("__cos"), 6))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** LSH-bucketed approximate top-k: `tables` independent hash tables
    * (OR-amplification), each bucketing the corpus by `planes` hyperplane
    * signs; each query probes, per table, its own bucket plus all buckets at
    * Hamming distance 1 (multi-probe). A neighbor is a candidate if ANY
    * table matches — recall is 1-(1-p_table)^tables, so it tunes up with
    * `tables` (at index-size cost ×tables) and p_table tunes with `planes`
    * (fewer planes = bigger buckets = higher recall, more compute).
    *
    * At 100 TB: corpus written bucketed once per table (index size ×tables,
    * the standard LSH trade), queries exploded ×tables×(planes+1) probes and
    * hash-joined on (table, bucket) — shuffle is on the query side only,
    * proportional to queries × probes, never corpus².
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10, planes: Int = 4,
              tables: Int = 4, vecCol: String = "embedding", idCol: String = "vec_id",
              seed: Long = 7L): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).limit(1).collect().headOption
      .getOrElse(throw new graft.planner.GraftException("lshTopK: empty corpus — nothing to index"))
      .getInt(0)
    val rng = new scala.util.Random(seed)
    val hyper: Seq[Seq[Seq[Double]]] =
      Seq.fill(tables)(Seq.fill(planes)(Seq.fill(dim)(rng.nextGaussian())))

    val tableBuckets = (vc: Column) => array((0 until tables).map { t =>
      struct(lit(t).as("t"), signBucket(vc, hyper(t)).as("b"))
    }: _*)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__tb", explode(tableBuckets(col("__cv"))))
      .withColumn("__table", col("__tb.t"))
      .withColumn("__bucket", col("__tb.b"))
      .select("neighbor_id", "__cv", "__table", "__bucket")
    // multi-probe: own bucket + flip each bit once
    val probeIds = (0 to planes).map(i => if (i == 0) lit(0L) else lit(1L << (i - 1)))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__tb", explode(tableBuckets(col("__qv"))))
      .withColumn("__probe", explode(array(probeIds: _*)))
      .withColumn("__table", col("__tb.t"))
      .withColumn("__bucket", col("__tb.b").bitwiseXOR(col("__probe")))
      .select("query_id", "__qv", "__table", "__bucket")

    val scored = c.join(q, Seq("__table", "__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("cosine", round(col("__cos"), 6))
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
