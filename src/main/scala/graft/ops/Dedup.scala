package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.functions.{CappedKeys, FirstMatchBandExpr, FirstUncappedMatchExpr,
  FirstUncappedSim16Expr, FirstUncappedWideExpr}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB contract):
  *  - Exact dedup: one hash-shuffle on the 8-byte fingerprint — never on the
  *    full text. Keeper selection via min(doc_id) aggregation, not windows
  *    over raw text.
  *  - MinHash-LSH: shingle -> K minhashes -> B bands; shuffle on (band,
  *    band-hash) keys only; candidate pairs emerge from same-bucket
  *    self-joins on the tiny bucket table; NO all-pairs crossJoin anywhere.
  *    Bucket skew (boilerplate pages) is capped with a per-bucket limit.
  *  - SimHash: 64-bit signature per doc; near-dup candidates via banded
  *    16-bit chunks (Hamming-distance-friendly), same bucket-join shape.
  *  - All signatures are computed with codegen'd SQL functions (xxhash64,
  *    aggregate over shingle arrays) — no UDFs, no driver collect.
  */
object Dedup {

  /** LSH exchange pin width. The banded self-join and the candidate-attach
    * exchanges carry payloads whose compressed size is far below raw
    * (per-doc vectors repeated across band rows; id-only pair streams), so
    * AQE's compressed-size partition coalescing over-packs reducers at
    * scale — measured at the 1000x corpus (r14) as sort-merge heap death /
    * multi-minute spill under a 16 GB driver. Such exchanges are issued as
    * user repartitions (never coalesced) at the session's shuffle width.
    *
    * `graft.lsh.pinnedWidth`:
    *  - unset: pin to spark.sql.shuffle.partitions UNLESS `frame` — the
    *    persisted frame the exchange carries, or its hash-build side — has
    *    a materialized raw size within one advisory partition
    *    (spark.sql.adaptive.advisoryPartitionSizeInBytes, 64 MB by
    *    default). No reducer can hold more raw bytes than the whole frame,
    *    so below that size the over-packing cannot happen, and the
    *    exchange is left to the planner and sized by AQE from the data.
    *    The size is the cache's own statistic: once a job has scanned
    *    every row of a persisted frame, its InMemoryRelation reports the
    *    exact row count and the uncompressed column bytes. A statistic
    *    without a row count is an estimate (cache not fully loaded, or the
    *    frame is not cached): pin.
    *  - 0: never pin (planner exchanges + AQE coalescing).
    *  - N > 0: repartition to N. The self-join honors N at any value. The
    *    attach-join exchanges are the join's direct children, and Spark's
    *    EnsureRequirements re-shuffles a join whose children are all
    *    shuffles narrower than spark.sql.shuffle.partitions to that width,
    *    so the attach joins run at max(N, spark.sql.shuffle.partitions)
    *    (fenced in PipelineGatesSuite).
    */
  private[graft] def lshPinWidth(frame: DataFrame): Option[Int] = {
    val spark = frame.sparkSession
    spark.conf.getOption("graft.lsh.pinnedWidth").map(_.toInt) match {
      case Some(0) => None
      case Some(n) if n > 0 => Some(n)
      case _ =>
        val stats = frame.queryExecution.optimizedPlan.stats
        val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        if (stats.rowCount.isDefined && stats.sizeInBytes <= advisory) None
        else Some(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    }
  }

  private def pinned(d: DataFrame, w: Option[Int], cols: Column*): DataFrame =
    w.map(n => d.repartition(n, cols: _*)).getOrElse(d)

  /** Rows of two 8-byte values a relation may hold to be read on the
    * driver: `spark.sql.autoBroadcastJoinThreshold` / 16 bytes, the budget
    * Spark already uses to ship a relation to the driver and every
    * executor. A threshold <= 0 gives 0: no driver-side path.
    */
  private def driverRows(spark: SparkSession): Int =
    math.max(0L, math.min(spark.sessionState.conf.autoBroadcastJoinThreshold / 16,
      Int.MaxValue - 1L)).toInt

  // ------------------------------------------------------- LSH band join

  /** One LSH operator's cache lifecycle: `body` persists its frames through
    * the `cache` it is handed and returns its verified pairs, which are
    * eagerly `localCheckpoint`ed; then every cache is released, also when
    * the body or the checkpoint throws. The returned frame owns its
    * checkpoint blocks; Spark's ContextCleaner frees them with it.
    */
  private def checkpointed(body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val held = mutable.Buffer.empty[DataFrame]
    try body { d => held += d.persist(); d }.localCheckpoint(eager = true)
    finally held.foreach(_.unpersist())
  }

  /** The capped-set gate: the buckets of `sizes` (a `__bsz` count per
    * bucket) holding more than `maxBucket` rows, as the exact set of their
    * (band, key) values, broadcast ([[graft.functions.CappedKeys]]). Capped
    * buckets are few by construction (each holds > maxBucket rows, so
    * their count is < rows / (maxBucket + 1): boilerplate explosions, not
    * the corpus), so the cap becomes a codegen filter instead of a join.
    * They are collected under [[driverRows]]; None (too many to ship, or
    * the broadcast threshold off) selects the kept-vector fallback.
    */
  private def cappedSet(sizes: DataFrame, band: Column, key: Column, bands: Int,
                        maxBucket: Int): Option[Broadcast[CappedKeys]] = {
    val budget = driverRows(sizes.sparkSession)
    Some(budget).filter(_ > 0)
      .map(b => sizes.filter(col("__bsz") > maxBucket).select(band, key).limit(b + 1).collect())
      .filter(_.length <= budget)
      .map(rows => sizes.sparkSession.sparkContext.broadcast(CappedKeys.fromRows(rows, bands)))
  }

  /** The banded self-join of minhash and both simhash widths: the candidate
    * pairs of `banded` (doc_id, `band`, `key` and the `payload` columns;
    * `bands` bands) with the buckets over `maxBucket` rows dropped, one row
    * per pair: (band, key, doc_id_a, doc_id_b, and `<p>_a`, `<p>_b` for
    * each payload column p), doc_id_a < doc_id_b.
    *
    * First-match emission (r14): a pair meeting in several bands is kept
    * only at its first SURVIVING shared band, so pairs are unique by
    * construction and no dropDuplicates exchange runs over every pair
    * instance (measured at 100×: 176M instances hashed down to 27M pairs,
    * 14 s of a 26 s run). With the capped set ([[cappedSet]]), each side
    * carries its full per-doc keys in the payload, the cap is a codegen
    * filter, and `firstUncapped` — the operator's first-match over the
    * `_a`/`_b` payload columns and the set — skips capped bands: two docs
    * agreeing on band j share band j's bucket, hence one capped-ness. That
    * removes the cap join and the per-doc kept-vector regroup (a
    * corpus-wide groupBy + map + re-explode, 37 s of the 1000× minhash
    * wall). Otherwise [[keptVectors]] builds that regroup, persisted through
    * `cache`, and the first match is taken over its NULL-able vectors.
    *
    * The capped-set sides are repartitioned to the session width once
    * `banded` outgrows one advisory partition of raw bytes ([[lshPinWidth]]):
    * the per-doc payload repeats across a doc's band rows, so the exchange
    * compresses far below its raw size and AQE's compressed-size coalescing
    * packs tens of millions of raw rows into one reducer, whose sort-merge
    * sort OOMs (measured at the 1000× corpus: default AQE dies at 16 GB
    * heap; pinned width runs in 266 s vs the kept-vector shape's 484 s).
    * With AQE off both join sides read the one exchange (ReusedExchange).
    */
  private def bandJoin(banded: DataFrame, band: String, key: String, bands: Int,
                       maxBucket: Int, payload: Seq[String],
                       firstUncapped: Broadcast[CappedKeys] => Column,
                       cache: DataFrame => DataFrame): DataFrame = {
    // bucket sizes are corpus-order in the worst case (one bucket per doc)
    val sizes = banded.groupBy(band, key).agg(count(lit(1)).as("__bsz"))
    def selfJoin(sides: DataFrame, carried: Seq[String], firstMatch: Column): DataFrame = {
      def side(s: String) = sides.select(Seq(col(band), col(key), col("doc_id").as(s"doc_id_$s")) ++
        carried.map(p => col(p).as(s"${p}_$s")): _*)
      side("a").join(side("b"), Seq(band, key))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .filter(col(band) === firstMatch)
    }
    cappedSet(sizes, col(band), col(key), bands, maxBucket) match {
      case Some(capped) =>
        selfJoin(pinned(banded.filter(!FirstUncappedMatchExpr.cappedContains(col(band), col(key), capped)),
          lshPinWidth(banded), col(band), col(key)), payload, firstUncapped(capped))
      case None =>
        selfJoin(cache(keptVectors(banded, sizes, band, key, bands, maxBucket, payload)),
          payload :+ "__kv", FirstMatchBandExpr.firstMatchBand(col("__kv_a"), col("__kv_b")))
    }
  }

  /** The kept-vector fallback of [[bandJoin]]: the rows of `banded` whose
    * bucket is within the cap (a join against the size-filtered `sizes`),
    * each carrying its doc's `payload` and kept-bucket vector `__kv` —
    * slot j is the doc's band-j key, NULL when that bucket was capped away.
    */
  private def keptVectors(banded: DataFrame, sizes: DataFrame, band: String, key: String,
                          bands: Int, maxBucket: Int, payload: Seq[String]): DataFrame = {
    val carried = col("doc_id") +: payload.map(col)
    banded.join(sizes.filter(col("__bsz") <= maxBucket).hint("shuffle_hash"), Seq(band, key))
      .groupBy("doc_id")
      // payload is per doc, so first() is deterministic
      .agg(map_from_entries(collect_list(struct(col(band), col(key)))).as("__m"),
        payload.map(p => first(p).as(p)): _*)
      // try_element_at: NULL for a missing band (plain element_at errors under ANSI)
      .select(carried :+ transform(sequence(lit(0), lit(bands - 1)),
        j => try_element_at(col("__m"), j)).as("__kv"): _*)
      .select(carried :+ col("__kv") :+ posexplode(col("__kv")).as(Seq(band, key)): _*)
      .filter(col(key).isNotNull)
  }


  // ---------------------------------------------------------------- exact

  /** Exact duplicates on normalized content hash. Returns the input with
    * `is_duplicate` (true for every row whose fingerprint was seen on a
    * lower doc_id) — one shuffle on the 64-bit fingerprint.
    */
  def exactDuplicates(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // window over the fingerprint, not aggregate+join-back: the join shape
    // re-scans the input (and re-runs the normalize+hash) to build the
    // probe side — one scan and one exchange here (A/B at 500k docs,
    // same JVM: 2.21 s -> 1.30 s). The window sort is on the 8-byte
    // fingerprint of pruned rows, never on raw text.
    val w = Window.partitionBy("__fp")
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__keeper", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("__keeper"))
      .drop("__fp", "__keeper")
  }

  /** Distinct-by-content (keep lowest id per fingerprint). */
  def exactDedup(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exactDuplicates(df, textCol, idCol).filter(!col("is_duplicate"))
      .drop("is_duplicate", "group_size")

  // ---------------------------------------------------------- incremental

  /** Content-fingerprint index of a corpus: one row per distinct
    * fingerprint with its keeper id — the persistent state an incremental
    * pipeline carries between batches. At scale this lives as a parquet
    * table bucketed by `fp`, so the per-batch anti-join below is
    * co-located (exchange-free on the index side).
    */
  def fingerprintIndex(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp").agg(min(col(idCol)).as("keeper_id"))

  /** Incremental exact dedup — the daily-crawl-vs-historical-index
    * pattern: keep only the rows of `batch` that are (a) first-of-
    * fingerprint WITHIN the batch and (b) novel AGAINST the index. One
    * fingerprint window over the batch + one anti-join against the index;
    * the index side carries a `shuffle_hash` hint because history is
    * corpus-sized and must never be elected for broadcast.
    */
  def incrementalDedup(batch: DataFrame, index: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("__fp")
    batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__keeper", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__keeper"))
      .join(index.select(col("fp").as("__fp")).hint("shuffle_hash"),
        Seq("__fp"), "left_anti")
      .drop("__fp", "__keeper")
  }

  /** Fold a deduplicated batch into the index: union of fingerprints with
    * the minimum keeper id winning — the write-back half of the
    * incremental cycle (rewrite of the affected buckets at scale).
    */
  def updateFingerprintIndex(index: DataFrame, batch: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    index.unionByName(fingerprintIndex(batch, textCol, idCol))
      .groupBy("fp").agg(min(col("keeper_id")).as("keeper_id"))

  // -------------------------------------------------------------- minhash

  /** Word w-shingles of the normalized text. The word array is bound via
    * [[Cols.bindOnce]] so the normalize+split runs once per row, not once
    * per window position.
    */
  def shingles(text: Column, w: Int = 3): Column =
    Cols.bindOnce(split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")) { words =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(words) - w, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(w)))))
    }

  /** K minhash values over the shingle set. Each hash h_k(s) =
    * xxhash64(shingle, seed=k); minhash_k = MIN over shingles.
    *
    * Computed as ONE aggregate pass over the shingle array with an
    * elementwise-min accumulator — K separate array_min(transform(...))
    * columns would duplicate the whole shingle expression K times (Spark
    * collapses projections, so a named column does not protect you) and
    * showed up as a 40x slowdown in the bench.
    */
  def minhashSignature(shingleCol: Column, k: Int = 32): Column = {
    val init = array_repeat(lit(Long.MaxValue), k)
    aggregate(shingleCol, init, (acc, s) => {
      val hashes = array((0 until k).map(seed => xxhash64(s, lit(seed))): _*)
      zip_with(acc, hashes, (a, b) => least(a, b))
    })
  }

  /** Banded LSH bucket keys: B bands of R rows each (K = B*R). Bucket key =
    * hash of the band's minhash slice. Two docs sharing any band bucket are
    * candidates.
    */
  def lshBandKeys(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(signature, b * rows + 1, rows))).as("bucket"))
    }: _*)

  /** Near-duplicate candidate pairs via MinHash-LSH with exact Jaccard
    * verification on shingle sets.
    *
    * @param threshold  Jaccard similarity threshold for a verified pair
    * @param bands,rows LSH shape — P(candidate) = 1-(1-s^rows)^bands
    * @param maxBucket  per-bucket cap: buckets larger than this (boilerplate
    *                   explosions) are dropped — at 100 TB a single hot
    *                   bucket would otherwise produce O(n²) pairs
    * @return (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b, an
    *         eager checkpoint: the call runs the whole pipeline and releases
    *         its caches before it returns
    */
  def minhashNearDuplicates(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                            threshold: Double = 0.7, bands: Int = 8, rows: Int = 4,
                            maxBucket: Int = 1000): DataFrame = checkpointed { cache =>
    // shingle sets are carried as 64-bit fingerprints, not strings: the
    // pair-verification stage intersects these arrays once per candidate
    // pair, and long compares are ~10x cheaper than string compares
    // (measured: 277 s -> see PERF.md at 500k docs / 24.7M pairs). Jaccard
    // over fingerprints equals Jaccard over shingles absent a 64-bit
    // collision inside one pair's union (< 2^-48 for ~200-shingle docs).
    // fused one-pass shingle fingerprints (functions.ShingleFpExpr) —
    // bit-identical hash values to the composed
    // array_distinct(transform(shingles(text), xxhash64)) formulation
    // (fenced in PipelineGatesSuite), SORTED so pair verification below
    // runs as a linear merge
    val shingled = cache(df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__sh", graft.functions.ShingleFpExpr.shingleFp(col("__text"), 3))
      .filter(size(col("__sh")) > 0)
      .select(col("doc_id"), col("__sh")))

    // Signature + band buckets fused per row (functions.MinHashBandsExpr,
    // byte-identical hash chain to the explode + per-seed MIN + concat_ws
    // formulation it replaces — fenced in PipelineGatesSuite): the
    // signature never leaves its row, so the 100M-row explode and the
    // k-column groupBy-min disappear. Each exploded row CARRIES its full
    // 8-slot band-key vector (r14 session 2) — the posexplode's Generate
    // boundary pins minhashBands to one evaluation per doc, and the
    // capped-set self-join sides need no per-doc kept-vector regroup.
    // cached: slim feeds the bucket-size aggregate AND both self-join
    // sides — without the cache the k-hash signature pass would run per
    // consumer.
    val slim = cache(shingled
      .select(col("doc_id"),
        graft.functions.MinHashBandsExpr.minhashBands(col("__sh"), bands, rows).as("__kb"))
      .select(col("doc_id"), col("__kb"),
        posexplode(col("__kb")).as(Seq("band", "bucket"))))
    val candidates = bandJoin(slim, "band", "bucket", bands, maxBucket, Seq("__kb"),
      FirstUncappedMatchExpr.firstUncappedMatch(col("__kb_a"), col("__kb_b"), _), cache)
      .select("doc_id_a", "doc_id_b")

    // attach the shingle sets to the (already deduplicated) candidate pairs.
    // The shingle side is corpus-sized by definition — force a shuffle join
    // so the optimizer can never elect to broadcast it (measured: a 20 MB
    // broadcast threshold flips this join and costs ~1 s at sf0.1; at real
    // scale broadcasting the corpus is fatal). Both attach exchanges are
    // pinned to the session width (r14 session 2) once `shingled` — their
    // hash-build side — outgrows one advisory partition of raw bytes (see
    // lshPinWidth): the candidate-id side compresses far below its raw
    // size, so AQE's compressed-size coalescing over-packs reducers whose
    // shuffled-hash builds then hold hundreds of MB of shingle arrays per
    // task (measured at the 1000× corpus as heap-death / multi-minute
    // spill; pinned width + pinned self-join = 1.8× the grouped shape end
    // to end).
    val pw = lshPinWidth(shingled)
    val pairs = pinned(candidates, pw, col("doc_id_a"))
      .join(pinned(shingled.select(col("doc_id").as("doc_id_a"), col("__sh").as("__sh_a")),
        pw, col("doc_id_a")).hint("shuffle_hash"), "doc_id_a")
    val pairsB = pinned(pairs, pw, col("doc_id_b"))
      .join(pinned(shingled.select(col("doc_id").as("doc_id_b"), col("__sh").as("__sh_b")),
        pw, col("doc_id_b")).hint("shuffle_hash"), "doc_id_b")

    // sorted-merge jaccard: same value as size(intersect)/size(union) on
    // the sorted-distinct fingerprint arrays, with no per-pair hash set
    pairsB.withColumn("jaccard",
        round(graft.functions.SortedJaccardExpr.sortedJaccard(col("__sh_a"), col("__sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** EXACT n-gram Jaccard near-duplicates via an inverted shingle index:
    * explode shingles, self-join on the shingle token (so only pairs that
    * actually share a shingle are generated — never all pairs), count common
    * shingles per pair, then jaccard = common / (|a| + |b| - common).
    *
    * Scale shape: the shuffle key is the shingle; `maxDocFreq` drops
    * boilerplate shingles that appear in more than N docs, which bounds the
    * per-token pair fan-out (a shingle in k docs emits k² pairs). The
    * total work is Σ_token df² — on a duplicate-heavy corpus every
    * near-dup group of size g contributes ~shingles x g² pair instances
    * BELOW the cap, so the exact path is inherently quadratic in group
    * size (measured: the 99%-dup 100x corpus emits ~5B pair instances
    * and exhausts a single 8 GB JVM). That envelope is why the
    * probabilistic index exists: use [[minhashNearDuplicates]] at scale,
    * or set maxDocFreq under the expected duplicate-group size and accept
    * the documented recall loss on shared tokens above it. Both the
    * intersection AND the set sizes are computed over the same capped
    * universe, so the jaccard is exact over non-boilerplate shingles — and
    * fully exact when no shingle exceeds the cap. Contrast
    * minhashNearDuplicates: that is the probabilistic index (k hashes per
    * doc regardless of length); this is the exact one (work proportional to
    * shared-token fan-out).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        threshold: Double = 0.5, w: Int = 3,
                        maxDocFreq: Int = 1000): DataFrame = {
    // sh persisted: tok feeds both the doc-frequency count and the join,
    // and without the cache the shingle computation runs per consumer.
    // Both caches are process-lifetime (LRU-evicted) — batch callers may
    // spark.catalog.clearCache() between corpora. The index tokens are the
    // fused 64-bit shingle FINGERPRINTS (one-pass, fenced bit-identical to
    // hashing the shingle strings), so the inverted-index shuffle carries
    // 8-byte keys, never shingle text — jaccard counts are identical
    // absent a 64-bit collision inside one pair's union.
    val sh = df.select(col(idCol).as("doc_id"),
        graft.functions.ShingleFpExpr.shingleFp(col(textCol), w).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .persist()
    val tok = sh.select(col("doc_id"), explode(col("__sh")).as("__s"))
    // freq and sizes are corpus-order relations (distinct shingles / one row
    // per doc) — shuffle-hash hints keep the optimizer from ever electing to
    // broadcast them off a post-aggregate size estimate (fatal at real scale)
    val freq = tok.groupBy("__s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("__s")
    // sizes measured over the SAME capped universe as the intersection —
    // mismatched universes would silently underestimate jaccard
    val tokF = tok.join(freq.hint("shuffle_hash"), "__s").persist()
    val sizes = tokF.groupBy("doc_id").agg(count(lit(1)).as("__n")).hint("shuffle_hash")
    val common = tokF.select(col("__s"), col("doc_id").as("doc_id_a"))
      .join(tokF.select(col("__s"), col("doc_id").as("doc_id_b")), Seq("__s"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("__common"))
    common
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("__n").as("__na")), Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("__n").as("__nb")), Seq("doc_id_b"))
      .withColumn("jaccard", round(col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  // -------------------------------------------------------------- simhash

  /** 63-bit SimHash over word shingles: per bit, sum +1/-1 of the shingle
    * hash's bit value, take sign. One aggregate pass with a 63-counter
    * accumulator (same projection-collapse trap as minhashSignature).
    * Bit b is extracted arithmetically (halves + exact power-of-two
    * division) because shiftright() only takes literal shift amounts;
    * bit 63 is left clear so 2^b stays exactly representable and castable.
    */
  /** Polynomial string hash replayable in any SQL engine: fold
    * (acc * 31 + codepoint) mod P over the characters, P a prime < 2^53 so
    * the fold never overflows BIGINT in engines that error on overflow.
    * Weaker mixing than xxhash64 (and bits 53+ are always clear) — exists
    * for the oracle-checkable twin entries, not production hashing.
    */
  def polyStringHash(s: Column): Column = polyStringHash(s, 31L)

  /** `mult` selects the hash family (31 = the standard twin; any other
    * small prime gives an independent replayable family — used by the
    * wide-band simhash twin's second signature).
    */
  def polyStringHash(s: Column, mult: Long): Column =
    aggregate(
      transform(sequence(lit(1), greatest(length(s), lit(1))),
        i => ascii(s.substr(i, lit(1))).cast("long")),
      lit(0L), (a, c) => (a * mult + c) % lit(9007199254740881L))

  def simhash(text: Column, w: Int = 2,
              hashFn: Column => Column = xxhash64(_)): Column = {
    val nBits = 63
    val sh = shingles(text, w)
    val counts = aggregate(sh, array_repeat(lit(0L), nBits), (acc, s) => {
      val h = hashFn(s)
      val lo = h.bitwiseAND(lit(0xFFFFFFFFL))
      val hi = shiftright(h, 32).bitwiseAND(lit(0x7FFFFFFFL))
      val bits = transform(sequence(lit(0), lit(nBits - 1)), b => {
        val half = when(b < 32, lo).otherwise(hi)
        val p2 = pow(lit(2.0), when(b < 32, b).otherwise(b - 32)).cast("long")
        pmod((half / p2).cast("long"), lit(2L))
      })
      zip_with(acc, bits, (a, bit) => a + bit * 2L - 1L)
    })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(nBits - 1)),
        (c, idx) => when(c >= 0, pow(lit(2.0), idx).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** SimHash near-dup candidates: band the 64-bit signature into 4 16-bit
    * chunks; docs sharing any chunk are candidates (Hamming distance <= 3
    * guarantees a shared chunk by pigeonhole). Verified by exact Hamming
    * distance.
    *
    * Scale ceiling (measured, PERF.md §0i): 16-bit band keys give 65,536
    * buckets per band, so beyond ~1M documents the AVERAGE bucket holds
    * n/65k docs and candidate volume grows ~n²/65k per band regardless of
    * duplicate structure (at 5M docs: ≥2B candidate pairs). `maxBucket`
    * cannot bound this without discarding most of the corpus once the
    * average bucket exceeds the cap. Past that corpus size, band keys must
    * widen with log2(n) — a 128-bit signature banded 4×32 bits — or use
    * [[minhashNearDuplicates]], whose band keys are 64-bit hashes of
    * minhash tuples and never saturate.
    *
    * The DEFAULT entry point therefore auto-switches to
    * [[simhashNearDuplicatesWide]] past `wideFromDocs` documents (probed
    * with a bounded, id-column-pruned limit+count, round-10/11 gate test in
    * PipelineGatesSuite). NOTE the wide path's `hamming` column is over the
    * combined 126-bit signature, so its scale differs from the 64-bit one;
    * at the handoff `maxHamming` is rescaled by ceil(126/64) so the
    * caller's threshold keeps its proportional selectivity. Pass
    * `wideFromDocs = 0` to pin the 16-bit banding at any size.
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                            maxHamming: Int = 3, maxBucket: Int = 1000,
                            hashFn: Option[Column => Column] = None,
                            wideFromDocs: Long = 1000000L): DataFrame = {
    // Auto-scale escape (round 10, mirroring the semanticDedup auto-k
    // discipline): past ~1M docs the 4 x 16-bit band space SATURATES —
    // candidate volume grows ~n²/65k regardless of duplicate structure
    // (measured, PERF.md §0i: the default path OOMs at 5M docs) — so the
    // DEFAULT entry point hands off to [[simhashNearDuplicatesWide]] when a
    // bounded limit+count probe (stops scanning at wideFromDocs + 1 rows,
    // cost independent of corpus size) crosses the documented threshold.
    // Explicit hashFn callers (the oracle-replayable polynomial twins) and
    // wideFromDocs = 0 keep the 16-bit path unconditionally. Memory note
    // (PERF.md §0i envelope): past the threshold the wide path's
    // bucket-size frame is corpus-order (~mostly-singleton buckets), so its
    // shuffle-hash build wants the cluster-scale per-executor budget — on
    // a single small JVM BOTH paths die there (wide on the build, 16-bit
    // on its ~n²/65k candidates), so the switch never makes things worse.
    if (hashFn.isEmpty && wideFromDocs > 0) {
      // Probe only the id column so parquet-backed frames prune the text
      // bytes out of the probe scan (the r10 probe ran limit() over the
      // FULL row and re-read the corpus once per call — a measured +30%
      // at sf0.1); clamp the limit so thresholds >= Int.MaxValue cannot
      // overflow into a negative limit() (r10 ADVICE).
      val probeLimit = math.min(wideFromDocs, Int.MaxValue - 1L).toInt + 1
      if (df.select(col(idCol)).limit(probeLimit).count() > wideFromDocs) {
        // The wide path's `hamming` is over the combined 126-bit signature,
        // so the caller's 64-bit-scale threshold is rescaled proportionally
        // (ceil(maxHamming * 126 / 64)) to preserve its selectivity MEANING
        // across the auto-switch (r10 ADVICE: passing it through unchanged
        // silently tightened d_simhash's maxHamming = 12 to a 126-bit 12).
        // The RETURNED hamming column is still 126-bit scale — pin
        // wideFromDocs = 0 to keep 64-bit semantics at any size, or call
        // simhashNearDuplicatesWide directly to control the threshold.
        val wideHamming = (maxHamming * 126 + 63) / 64
        return simhashNearDuplicatesWide(df, textCol, idCol, wideHamming, maxBucket)
      }
    }
    // default (None = xxhash64) path: the fused one-pass SimHashExpr,
    // bit-identical to the composed simhash() fold (fenced in
    // PipelineGatesSuite); an explicit hashFn (e.g. the oracle-replayable
    // polynomial twin) keeps the composed formulation
    val simCol = hashFn match {
      case None     => graft.functions.SimHashExpr.simhash64(col("__text"), 2)
      case Some(fn) => simhash(col("__text"), hashFn = fn)
    }
    checkpointed { cache =>
      val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .withColumn("__sim", simCol)
      // cached: feeds the bucket-size aggregate AND the self-join sides —
      // the upstream simhash computation must run once, not per branch
      val banded = cache(docs.select(col("doc_id"), col("__sim"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("__sim"), c * 16).bitwiseAND(0xFFFFL).as("key"))
        }: _*)).as("__ck"))
        .select(col("doc_id"), col("__sim"), col("__ck.chunk"), col("__ck.key")))
      // the self-join sides carry only the 8-byte signature; the first
      // match recomputes the chunk keys from it. Capped chunks are at most
      // 4 × 65,536 keys (the whole 16-bit band key space), under the
      // capped-set budget at Spark's default broadcast threshold
      bandJoin(banded, "chunk", "key", 4, maxBucket, Seq("__sim"),
        FirstUncappedSim16Expr.firstUncappedSim16(col("__sim_a"), col("__sim_b"), _), cache)
        .withColumn("hamming", bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))))
        .filter(col("hamming") <= maxHamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    }
  }

  /** Wide-band (126-bit) SimHash near-dups — the band-space scale path
    * the 1000× probe demanded (PERF.md §0i): two independent 63-bit
    * signatures (the base fused simhash and a salted remix of the same
    * shingle fingerprints) banded as 4 × 31/32-bit keys, so the per-band
    * key space is ~2^31–2^32 and average bucket size stays n / 2^31 at any
    * realistic corpus size — where the 4 × 16-bit banding of
    * [[simhashNearDuplicates]] saturates past ~1M docs. Hamming distance
    * is over the combined 126 bits; `maxHamming <= 3` keeps the banded
    * candidate set pigeonhole-complete (3 flipped bits cannot touch all 4
    * bands). Gate-tested equal to the brute-force 126-bit hamming join
    * (PipelineGatesSuite) and measured at 5M docs.
    *
    * RECALL ABOVE maxHamming = 3 IS PARTIAL: with 4 bands, >= 4 flipped
    * bits can touch every band, so a pair at Hamming distance d > 3 is
    * found only if some band happens to stay clean — the same intentional
    * trade the 16-bit path makes when d_simhash runs it at maxHamming = 12
    * (more bits flipped => less similar => a miss is acceptable). Callers
    * needing guaranteed recall at larger d must raise the band count, not
    * this parameter.
    */
  def simhashNearDuplicatesWide(df: DataFrame, textCol: String = "text",
                                idCol: String = "doc_id",
                                maxHamming: Int = 3,
                                maxBucket: Int = 1000,
                                hashFns: Option[(Column => Column, Column => Column)] = None): DataFrame =
    checkpointed { cache =>
      val salt = 0x9E3779B97F4A7C15L // 2^64 / golden ratio
      // None = the fused production path; Some((fa, fb)) = two composed hash
      // families, for the oracle-replayable polynomial twin
      // (d_simhash_wide_poly). The fused path (r14 session 2) emits the 4
      // (chunk, key, sa, sb) band entries from ONE generator expression —
      // the composed shape evaluated two SimHashExpr columns per row, each
      // re-running the whole shingle fingerprint scan (the dominant per-row
      // cost; a collapsed Project offers no evaluate-once protection), while
      // the Generate boundary pins the fused expression to exactly one
      // evaluation. Keys/signatures bit-identical (PipelineGatesSuite fence).
      val banded = cache(hashFns match {
        case None =>
          df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
            .select(col("doc_id"),
              explode(graft.functions.SimHashWideBandsExpr
                .simhashWideBands(col("__text"), 2, salt)).as("__ck"))
            .select(col("doc_id"), col("__ck.sa").as("__sa"),
              col("__ck.sb").as("__sb"), col("__ck.chunk"), col("__ck.key"))
        case Some((fa, fb)) =>
          df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
            .withColumn("__sa", simhash(col("__text"), hashFn = fa))
            .withColumn("__sb", simhash(col("__text"), hashFn = fb))
            .select(col("doc_id"), col("__sa"), col("__sb"),
              explode(array(
                struct(lit(0).as("chunk"), col("__sa").bitwiseAND(0x7FFFFFFFL).as("key")),
                struct(lit(1).as("chunk"), shiftright(col("__sa"), 31).as("key")),
                struct(lit(2).as("chunk"), col("__sb").bitwiseAND(0x7FFFFFFFL).as("key")),
                struct(lit(3).as("chunk"), shiftright(col("__sb"), 31).as("key")))).as("__ck"))
            .select(col("doc_id"), col("__sa"), col("__sb"),
              col("__ck.chunk"), col("__ck.key"))
      })
      // the self-join sides carry only the two 8-byte signatures; the first
      // match recomputes the 4 chunk keys from them
      bandJoin(banded, "chunk", "key", 4, maxBucket, Seq("__sa", "__sb"),
        FirstUncappedWideExpr.firstUncappedWide(col("__sa_a"), col("__sb_a"),
          col("__sa_b"), col("__sb_b"), _), cache)
        .withColumn("hamming",
          (bit_count(col("__sa_a").bitwiseXOR(col("__sa_b"))) +
            bit_count(col("__sb_a").bitwiseXOR(col("__sb_b")))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicates, LSH-bucketed via random hyperplanes.
    * Shuffle on the sign-pattern bucket key; exact cosine verification on
    * candidates. Deterministic hyperplanes derived from a seed.
    *
    * `planes = 0` is the exact mode: every vector lands in one bucket, so the
    * verification step sees all pairs — only usable when the corpus (or a
    * pre-blocked partition of it) is small enough for the all-pairs join, but
    * it makes the operator oracle-checkable against exact pairwise cosine.
    *
    * The verified pairs are an eager checkpoint ([[checkpointed]]): the
    * keyed vector cache is released before the call returns.
    */
  def embeddingNearDuplicates(df: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
                              minCosine: Double = 0.95, planes: Int = 12,
                              seed: Long = 42L, maxBucket: Int = 2000): DataFrame = checkpointed { cache =>
    val rng = new scala.util.Random(seed)
    lazy val dim = df.select(size(col(vecCol))).limit(1).collect().headOption
      .getOrElse(throw new graft.planner.GraftException("embeddingNearDuplicates: empty corpus — nothing to index"))
      .getInt(0)
    val hyper: Seq[Seq[Double]] = Seq.fill(planes)(Seq.fill(dim)(rng.nextGaussian()))

    def dotLit(v: Column, plane: Seq[Double]): Column =
      graft.functions.VecOps.dotConst(v, plane)

    val bucketExpr =
      if (planes == 0) lit(0L)
      else (0 until planes).map(p => when(dotLit(col("__v"), hyper(p)) >= 0, 1L << p).otherwise(0L))
        .reduce((a, b) => a.bitwiseOR(b))
    val keyed = cache(df.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("__bucket", bucketExpr))
    val sizes = keyed.groupBy("__bucket").agg(count(lit(1)).as("__bsz"))
    // the capped-set gate of the banded operators, with one band: over
    // budget, the cap is a join against the size-filtered bucket table
    // (every keyed row's bucket exists in `sizes`, so it is a pure filter)
    val capped = cappedSet(sizes, lit(0), col("__bucket"), 1, maxBucket) match {
      case Some(cappedBc) =>
        keyed.filter(!FirstUncappedMatchExpr.cappedContains(lit(0), col("__bucket"), cappedBc))
      case None =>
        keyed.join(sizes.filter(col("__bsz") <= maxBucket).hint("shuffle_hash"), Seq("__bucket"))
    }
    val a = capped.select(col("__bucket"), col("vec_id").as("vec_id_a"), col("__v").as("__va"))
    val b = capped.select(col("__bucket"), col("vec_id").as("vec_id_b"), col("__v").as("__vb"))
    a.join(b, Seq("__bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      // no dropDuplicates (r14): every vector lands in exactly ONE bucket
      // (the sign pattern is a single value per row), so the self-join
      // emits each pair at most once — the dedup was a pure exchange +
      // aggregate over the full pair set
      .withColumn("cosine", round(Similarity.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("vec_id_a", "vec_id_b", "cosine")
  }

  /** Semantic dedup (the SemDeDup recipe, arXiv:2303.09540): cluster the
    * embedding space with deterministic k-means, then drop every vector
    * that has a lower-id neighbor above `minCosine` INSIDE its cluster.
    * Clustering bounds the pairwise step — the quadratic cost is per
    * cluster, so at scale `k` grows with the corpus to hold cluster sizes
    * roughly constant, and `maxCluster` hard-caps the blowup from any
    * degenerate cluster (same cap discipline as the minhash/simhash
    * buckets; capped clusters keep all members, a documented recall
    * trade). Returns one row per vector: (vec_id, cluster, kept).
    *
    * Deterministic end-to-end: k-means is exact-integer ([[Clustering]]),
    * the keep rule is a pure EXISTS against lower ids, and cosine is
    * rounded to 6 places before the threshold compare on both engines —
    * so the whole operator is oracle-replayable (entry d_semdedup).
    *
    * `k <= 0` (the default) AUTO-SCALES the cluster count to
    * `max(8, ceil(n / targetClusterSize))` from one count() pass over a
    * cache of the input (so an expensive upstream is computed once, not
    * once for the count plus once per k-means round; the cache is
    * released as soon as the slim cluster-edge frame materializes),
    * which is what actually enforces the
    * "k grows with the corpus" requirement above: with k pinned, cluster
    * populations grow linearly with the corpus and the in-cluster
    * pairwise step grows quadratically (measured: pinned k=8 took 584 s
    * on the 100x corpus; auto-k is re-measured in PERF.md §0f). Pass an
    * explicit k to pin it (the oracle entry does, so its replay is
    * untouched).
    */
  def semanticDedup(df: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id", k: Int = 0, iters: Int = 1,
                    minCosine: Double = 0.95,
                    maxCluster: Int = 100000,
                    targetClusterSize: Int = 4096,
                    twoLevelFromK: Int = 65536,
                    twoLevelSoft: Boolean = true): DataFrame = {
    // Auto-k mode caches the input before counting it: the count action
    // fully materializes the cache, so an expensive un-cached upstream
    // (an LSH chain, a filter pipeline) is computed ONCE and the k-means
    // rounds + edge build below read the cached copy. Released as soon as
    // `e` (the slim persisted projection) is materialized — and on ANY
    // exception in between (r9 ADVICE: a k-means failure used to leave the
    // input pinned in MEMORY_AND_DISK for the session). An input the
    // caller already persisted is used as-is (no double-persist warning,
    // and its cache stays the caller's to manage).
    val srcPinned = k <= 0 &&
      df.storageLevel == StorageLevel.NONE
    val src = if (srcPinned)
      df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val kEff =
        if (k > 0) k
        else math.max(8L, (src.count() + targetClusterSize - 1) / targetClusterSize).toInt
      // Large-k ceiling (documented recipe: k ∝ n means millions of clusters
      // at 100 TB): past `twoLevelFromK`, flat Lloyd's k-row broadcast per
      // round stops being "small" — switch to the two-level variant whose
      // big centroid table is cell-id-joined, never broadcast. The default
      // threshold keeps every current caller (and the oracle, which pins
      // k = 8) on the flat path. NOTE the two-level effective k rounds UP
      // to kSuper * kInner >= kEff (cluster ids then span that larger
      // range); empty inner cells drop out as in standard Lloyd.
      val twoLevel = kEff >= twoLevelFromK
      val assigned =
        if (!twoLevel)
          Clustering.kmeans(src, k = kEff, iters = iters, idCol = idCol, vecCol = vecCol)
        else {
          val kSuper = math.ceil(math.sqrt(kEff.toDouble)).toInt
          val kInner = (kEff + kSuper - 1) / kSuper
          // softCandidates: the round-10 recall mitigation for the
          // documented +7% two-level kept-count drift — each vector also
          // shops in its 2nd-nearest coarse cell DURING CANDIDATE
          // GENERATION (the output cluster stays the primary), so a
          // duplicate group split across a coarse boundary still meets in
          // one bucket. Measured at 100x / k=512 in PERF.md.
          Clustering.kmeansTwoLevel(src, kSuper = kSuper, kInner = kInner,
            iters = iters, idCol = idCol, vecCol = vecCol,
            softCandidates = twoLevelSoft)
        }
      val e = src.select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
        .join(assigned.select(col("vec_id"), col("cluster")), Seq("vec_id"))
        .persist()
      if (srcPinned) { e.count(); src.unpersist() }
      // candidate membership: primary cluster, plus the soft second cell on
      // the two-level path (≤ 2 rows per vector; the pairwise step below
      // dedups ids, so a pair sharing both cells is still counted once)
      val member =
        if (twoLevel && twoLevelSoft)
          e.select(col("vec_id"), col("__v"))
            .join(assigned.select(col("vec_id"),
              explode(array_distinct(array(col("cluster"),
                coalesce(col("cluster2"), col("cluster"))))).as("cluster")), Seq("vec_id"))
        else e
      // cap on PRIMARY sizes (e, not member): soft members must not push a
      // borderline cluster over maxCluster and knock it out of candidate
      // generation entirely — cap semantics stay identical to hard mode,
      // and soft can at most double the work inside an admitted cluster
      val sizes = e.groupBy("cluster").agg(count(lit(1)).as("__csz"))
      val capped = member.join(sizes.filter(col("__csz") <= maxCluster).hint("shuffle_hash"),
        Seq("cluster"))
      val a = capped.select(col("cluster"), col("vec_id").as("id_a"), col("__v").as("__va"))
      val b = capped.select(col("cluster"), col("vec_id").as("id_b"), col("__v").as("__vb"))
      val dups = a.join(b, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Similarity.cosine(col("__va"), col("__vb")), 6) >= minCosine)
        .select(col("id_b").as("vec_id")).distinct()
      e.join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("__dup").isNull.as("kept"))
    } catch {
      case t: Throwable =>
        if (srcPinned) src.unpersist()
        throw t
    }
  }

  // ------------------------------------------------------------- clusters

  /** Connected components over an undirected candidate-pair list, by
    * iterative min-label propagation: every node starts labeled with the
    * minimum of its own id and its direct neighbors', then each round
    * replaces a node's label with the minimum label among its neighbors
    * until nothing changes. Returns one row per node that appears in a
    * pair: (id, component), component = the minimum node id reachable.
    * Rounds needed = the cluster diameter, and near-dup graphs are
    * quasi-cliques (pairs come from a similarity threshold), so 2-4 rounds
    * is typical; `maxIter` bounds pathological chains, and a graph that
    * needs more rounds throws rather than return wrong labels.
    *
    * Scale shape: the pair list is read once with a bounded collect. The
    * bound is `spark.sql.autoBroadcastJoinThreshold` / 16 bytes per pair
    * (two 8-byte ids) — the budget Spark already uses to ship a relation
    * to the driver and every executor; a threshold <= 0 turns the driver
    * path off. A list that fits (LONG ids, no null) is solved on the
    * driver by the same rounds ([[componentsLocal]]: same labels, round
    * count and exception) and returned as a local relation: one bounded
    * read (no job at all when `pairs` optimizes to a local relation)
    * instead of one job per round. A larger list runs the rounds distributed
    * ([[componentsDistributed]]); its pair columns are persisted before the
    * bounded read, so the pair generator runs once whichever path follows.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_id_a",
                          bCol: String = "doc_id_b", maxIter: Int = 20): DataFrame = {
    val ab = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
    val maxPairs = driverRows(pairs.sparkSession)
    // both directions from ONE pass over the pair columns (explode, not a
    // union of two selects, which reads the pair list twice: uncached, the
    // second branch re-ran the upstream pair generator — measured ~25 s of
    // the 75 s cc_minhash cell at 100×)
    val edges = ab.select(explode(array(
        struct(col("__a").as("__u"), col("__b").as("__v")),
        struct(col("__b").as("__u"), col("__a").as("__v")))).as("__e"))
      .select(col("__e.__u").as("__u"), col("__e.__v").as("__v"))
    val labels = edges.groupBy(col("__u").as("id"))
      .agg(min(col("__v")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("component"))
    val driverOk = maxPairs > 0 && edges.schema("__u").dataType == LongType
    // a pair list that optimizes to a local relation (rows already on the
    // driver) is read without a job and costs nothing to re-read
    val cached = !(driverOk && ab.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    if (cached) ab.persist()
    try {
      val read = if (driverOk) ab.limit(maxPairs + 1).collect() else Array.empty[Row]
      if (driverOk && read.length <= maxPairs && !read.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val (ids, comps) = componentsLocal(read.map(_.getLong(0)), read.map(_.getLong(1)), maxIter)
        pairs.sparkSession.createDataFrame(
          ids.indices.map(i => Row(ids(i), comps(i))).asJava, labels.schema)
      } else componentsDistributed(edges, labels, maxIter)
    } finally if (cached) ab.unpersist()
  }

  private def notConverged(maxIter: Int) = new IllegalStateException(
    s"connectedComponents did not reach a fixpoint within maxIter=$maxIter rounds — " +
      "a cluster's diameter exceeds the bound and the labels would be silently wrong; " +
      "raise maxIter (rounds needed = the largest cluster diameter)")

  /** [[connectedComponents]]'s rounds on the driver over the undirected
    * edges `a(i)`—`b(i)`: every node's next label is computed from the
    * previous round's labels of all its neighbors (not updated in place),
    * exactly as the distributed rounds do, so the labels, the round count
    * and the `maxIter` exception are the same. Returns (ids, components).
    */
  private def componentsLocal(a: Array[Long], b: Array[Long],
                              maxIter: Int): (Array[Long], Array[Long]) = {
    val index = mutable.LongMap.empty[Int]
    val idBuf = mutable.ArrayBuilder.make[Long]
    def node(x: Long): Int = index.getOrElseUpdate(x, { idBuf += x; index.size })
    val ea = a.map(node)
    val eb = b.map(node)
    val ids = idBuf.result()
    val n = ids.length
    // adjacency in CSR form: the neighbors of i are adj(start(i) until start(i + 1))
    val start = new Array[Int](n + 1)
    ea.foreach(i => start(i + 1) += 1)
    eb.foreach(i => start(i + 1) += 1)
    for (i <- 0 until n) start(i + 1) += start(i)
    val fill = start.clone()
    val adj = new Array[Int](start(n))
    for (e <- ea.indices) {
      adj(fill(ea(e))) = eb(e); fill(ea(e)) += 1
      adj(fill(eb(e))) = ea(e); fill(eb(e)) += 1
    }
    def minOver(i: Int, of: Array[Long]): Long = {
      var m = Long.MaxValue
      var j = start(i)
      while (j < start(i + 1)) { m = math.min(m, of(adj(j))); j += 1 }
      m
    }
    var label = Array.tabulate(n)(i => math.min(ids(i), minOver(i, ids)))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      var changed = 0
      label = Array.tabulate(n) { i =>
        val nc = minOver(i, label)
        if (nc < label(i)) { changed += 1; nc } else label(i)
      }
      converged = changed == 0
      iter += 1
    }
    if (!converged) throw notConverged(maxIter)
    (ids, label)
  }

  /** [[connectedComponents]]'s rounds as Spark jobs: each round is one
    * shuffle join of the edge list with the label table plus a
    * min-aggregate. Convergence is detected inside each round's own
    * checkpoint job: a label changes iff its neighbors' minimum is below
    * it, so that flag is projected and counted with `Dataset.observe` —
    * one job per round, no probe join.
    *
    * Each round's labels are eagerly `localCheckpoint()`ed, NOT merely
    * persisted: the label frame feeds twice into the next round (the
    * propagation join and the keep-old-label coalesce), so without lineage
    * truncation the logical plan tree doubles per iteration — the driver
    * dies planning round ~20 regardless of data size. Checkpointing cuts
    * the plan back to a leaf each round; the plan is O(1) in iterations.
    * Superseded checkpoint blocks are released by Spark's ContextCleaner
    * once the old frame goes out of scope. On a fault-tolerant cluster,
    * swap for reliable `checkpoint()` if executor loss mid-job must be
    * survivable (localCheckpoint trades that for zero HDFS I/O).
    */
  private def componentsDistributed(edges: DataFrame, initial: DataFrame,
                                    maxIter: Int): DataFrame = {
    var labels = initial.localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "__v2"), col("__v") === col("__v2"))
        .groupBy(col("__u").as("id")).agg(min(col("component")).as("__nc"))
      val changed = Observation()
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__nc"), col("component"))).as("__next"),
          (col("__nc") < col("component")).as("__chg"))
        .observe(changed, count_if(col("__chg")).as("n"))
        .select(col("id"), col("__next").as("component"))
        .localCheckpoint()
      labels = next
      converged = changed.get("n") == 0L
      iter += 1
    }
    if (!converged) throw notConverged(maxIter)
    // returned frame is a materialized local checkpoint — no lineage back
    // to the edge list, so consuming it never replays the iteration
    labels
  }

  /** Near-duplicate cluster dedup: drop every document that shares a
    * cluster with a lower-id document, keeping the cluster's minimum-id
    * representative plus all documents not in any pair. The standard
    * pair-list -> cluster -> canonical-keeper step that follows any of the
    * pair generators above. One left-anti join on the id — the loser set is
    * tiny relative to the corpus, so Spark broadcasts it.
    */
  def dedupByPairs(df: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                   aCol: String = "doc_id_a", bCol: String = "doc_id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Sub-document (chunk-level) dedup — the C4/RefinedWeb-style pass that
    * removes REPEATED SPANS, not repeated documents: split each doc into
    * fixed `chunkWords`-word chunks, keep only the corpus-wide FIRST
    * occurrence of each distinct chunk (lexicographic (doc_id, pos)), and
    * reassemble every doc from its surviving chunks. Near-dup docs lose
    * their shared spans but keep their unique tail; boilerplate repeated
    * across thousands of docs survives exactly once.
    *
    * Scale shape: the keeper per chunk is a MIN(struct(doc_id, pos))
    * aggregation — map-side partial, so a chunk repeated a billion times
    * (boilerplate skew) reduces to one row per input partition before the
    * shuffle; no windowed sort over the heavy group. Then one equi-join on
    * (chunk, doc_id, pos) marks survivors and one regroup by doc
    * reassembles. Three bounded shuffles total, no all-pairs anything.
    *
    * Returns (idCol, n_chunks, n_kept, text_clean) — docs whose every
    * chunk was seen earlier come back with n_kept = 0 and empty text.
    */
  def chunkDedup(df: DataFrame, chunkWords: Int = 10,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkWords >= 1, s"chunkWords $chunkWords must be >= 1")
    val k = chunkWords
    // fused one-pass chunking (functions.ChunkWordsExpr) — string-identical
    // to the composed split/slice/array_join formulation (fenced in
    // PipelineGatesSuite) without the interpreted HOF transform
    val chunks = df.select(
      col(idCol),
      posexplode(graft.functions.ChunkWordsExpr.chunkWords(col(textCol), k))
        .as(Seq("pos", "chunk")))
    // Keeper election CARRIES the chunk text (r14): (id, pos) is unique per
    // chunk instance, so min(struct(id, pos, chunk)) per fingerprint is
    // row-identical to electing min(struct(id, pos)) and joining the chunk
    // back on (fp, id, pos) — the shape this replaces, which re-chunked the
    // whole corpus for the probe side of that join (a second full text
    // scan) and paid the join's exchange. The min is still map-side
    // partial-aggregable, so boilerplate skew (one chunk in a billion docs)
    // reduces to one row per input partition before the shuffle; the chunk
    // text rides only the surviving candidate per partition. Fenced
    // row-identical against the joined formulation in PipelineGatesSuite.
    val kept = chunks.withColumn("__cfp", xxhash64(col("chunk")))
      .groupBy("__cfp")
      .agg(min(struct(col(idCol), col("pos"), col("chunk"))).as("kp"))
      .select(col("kp").getField(idCol).as(idCol),
        col("kp").getField("pos").as("pos"),
        col("kp").getField("chunk").as("chunk"))
    df.select(col(idCol),
        size(graft.functions.ChunkWordsExpr.chunkWords(col(textCol), k))
          .cast("bigint").as("n_chunks"))
      .join(
        kept.groupBy(idCol).agg(
          count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_clean")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
