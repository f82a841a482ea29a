package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: time the named SparkEntry queries (args after the first) on
  * `args(0)` in a fresh JVM with a noop sink, one `TIME` line per cell.
  * With no names it runs the full-inventory 100x sweep ([[sweep]]).
  *
  * Usage: runMain graft.tools.ProbeTime [sfDir] [entry...]
  */
object ProbeTime {

  /** The full-inventory 100x sweep, in run order.
    *
    * d_ngram EXCLUDED: the exact inverted-index path does Σ df² work
    * per shared token — on the 99%-dup 100x corpus (df ≈ dup-group size
    * ≈ 100 per shingle, under the 1000 doc-freq cap) that is ~5B pair
    * instances and OOMs an 8 GB single JVM. That envelope is the design
    * reason d_minhash exists; see Dedup.ngramJaccardPairs scaladoc.
    * d_clusters/d_cluster_dedup excluded: their oracle entries consume the
    * exact ngram pair list (same envelope); the scale path is cc_minhash.
    * d_embed_exact EXCLUDED (r8): the planes=0 all-pairs exact twin is
    * out-of-envelope by design at 100x (40B pairs) — in the r8 sweep its
    * task death took the whole SparkContext with it and voided every
    * later cell. The production path is d_embed_neardup (LSH-bucketed).
    * d_semdedup's ENTRY pins k=8 for the oracle; its scale path is the
    * auto-k default, timed at the END as d_semdedup_auto (the pinned-k
    * cell is the known-quadratic shape: ProbeSemK 512 s vs 44 s at 100x,
    * `git show bbeb2bc:src/main/scala/graft/tools/ProbeSemK.scala`).
    * g_pagerank's ENTRY consumes the exact d_ngram pair list — the same
    * out-of-envelope family (its task death killed the whole local
    * SparkContext in both r8 sweep attempts). Its scale path is PageRank
    * over the LSH pair list, timed at the END as g_pagerank_lsh.
    *
    * The heavy graph/cluster cells run LAST: their persisted edge lists,
    * localCheckpoint label blocks, and minutes of all-core load
    * contaminate any cell that follows them in the same JVM (r8 measured:
    * d_chunks 7.9 s fresh vs 18.8 s after them; t_bm25 4.7 vs 16.0).
    */
  val sweep: Seq[String] = Seq(
    "d_simhash", "d_chunks", "d_incremental",
    "t_pack", "t_curate", "t_curate_incr", "t_bm25", "t_tfidf",
    "c_kmeans", "t_bpe", "t_subword", "t_nb_score",
    "t_lm_score", "t_mixture", "t_weighted", "t_winnow_poly",
    "e_asof", "e_range", "e_sessions", "q_hll", "q_hll_est", "t_cms",
    "q_histq", "t_dashboard",
    "cc_minhash", "g_pagerank_lsh", "d_semdedup_auto")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/bench_sf10")
    val names = if (args.length > 1) args.drop(1).toSeq else sweep
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      // default 64 keeps continuity with the r8/r9 sweep tables; at 1000x
      // set SPARK_GRAFT_SHUFFLE (Bench sizes ~8 MB of input per partition,
      // cap 256 — the fixed width was the suspected cause of the
      // superlinear temporal cells in PERF.md §0i)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (20L * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v;k=v" — arbitrary session confs for A/B probes
    // (e.g. spark.sql.autoBroadcastJoinThreshold=-1 forces the kept-vector
    // LSH fallback and the distributed connected-components rounds)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    graft.SparkEntry.engineFor(spark, dir)
    // scale-path aliases with no driver entry; the first three close the sweep
    def lshPairs(s: SparkSession) = graft.ops.Dedup.minhashNearDuplicates(
      s.read.parquet(s"$dir/documents.parquet"), threshold = 0.7, bands = 8, rows = 4)
    val aliases: Map[String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame] = Map(
      // scale path for cluster formation: label propagation over the LSH
      // pair list (24.7M edges on the 100x corpus)
      "cc_minhash" -> (s => graft.ops.Dedup.connectedComponents(lshPairs(s))),
      "g_pagerank_lsh" -> (s => graft.ops.GraphRank.pageRankUndirected(lshPairs(s), iters = 2)),
      "d_semdedup_auto" -> (s => graft.ops.Dedup.semanticDedup(
        s.read.parquet(s"$dir/embeddings.parquet")
          .withColumn("embedding", org.apache.spark.sql.functions.col("embedding").cast("array<double>")),
        minCosine = 0.3)),
      // the pre-r11 t_cms shape (occurrence-level sketch, tokenize runs
      // twice) — kept for the A/B against the shipped weighted-sketch plan
      "t_cms_occ" -> { s =>
        import org.apache.spark.sql.functions._
        val toks = s.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(
            lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")).as("tok"))
          .filter(length(col("tok")) >= 1)
        val sketch = graft.ops.Sketches.cmsSketch(toks, "tok", depth = 3, width = 512)
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
        exact.join(
            graft.ops.Sketches.cmsEstimate(sketch, exact.select("tok"), "tok",
              depth = 3, width = 512),
            Seq("tok"))
          .orderBy("tok")
      })
    for (name <- names) {
      graft.SparkEntry.queries.get(name)
        .orElse(aliases.get(name).map(f => (s: org.apache.spark.sql.SparkSession, _: String) => f(s))) match {
        case None => println(s"TIME $name: no such entry")
        case Some(fn) =>
          try {
            val t0 = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            println(f"TIME $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          } catch {
            case e: Throwable =>
              println(s"TIME $name FAILED: ${String.valueOf(e.getMessage).take(140).replace('\n', ' ')}")
          }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
