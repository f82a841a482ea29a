package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

object CorpusWorkload {

  /** Stage names of one pass, in order (gen.py's corpus_pass). */
  val stages: Seq[String] = Seq("analyze", "exact_dedup", "minhash", "cc_dedup", "simhash",
    "chunk_dedup", "lm_score", "kmeans", "knn")
  val Threshold = 0.7
  val MaxHamming = 6
  val K = 8
  val Queries = 16
  val Neighbours = 5
}

/** `corpus`: a fixed sequence of graft.ops calls over generated documents
  * and embeddings, repeated for a fixed number of passes. No measure
  * rewrite is involved.
  *
  * Each stage is timed in two parts: `build` (the call returning its
  * DataFrame, which includes the operator's eager driver-side work) and
  * `exec` (running it). Stages whose output the checks need are collected;
  * the others are reduced to a row count and an order-insensitive hash of
  * every column, so no column can be pruned away.
  */
final class CorpusWorkload(data: String, passes: Int) extends Workload {
  import CorpusWorkload._

  var session: SparkSession = _
  private var docsDf: DataFrame = _
  private var embDf: DataFrame = _
  private var pairsDf: DataFrame = _
  private val truth = new ObjectMapper().registerModule(DefaultScalaModule)
    .readValue(Paths.get(data, "truth.json").toFile, classOf[Map[String, Any]])
  private def truthL(k: String) = truth(k).asInstanceOf[Number].longValue
  override def docs: Long = truthL("n_docs")
  override def stageNames: Seq[String] = stages
  val quality = mutable.LinkedHashMap("ops.minhash.recall" -> 0.0, "ops.minhash.precision" -> 0.0,
    "ops.simhash.recall" -> 0.0)

  def prepare(s: SparkSession): Double = {
    val t0 = Clock.nowUs
    session = s
    docsDf = s.read.parquet(s"$data/documents.parquet")
    embDf = s.read.parquet(s"$data/embeddings.parquet")
    require(docsDf.count() == docs && embDf.count() == truthL("n_vecs"), "inputs do not match truth.json")
    (Clock.nowUs - t0) / 1e6
  }

  /** One pass over a small slice of the corpus, in the first set-up only:
    * what it warms (JIT, generated code) is per JVM, not per session.
    */
  def warmup(first: Boolean): Unit = if (first) {
    val (d, e) = (docsDf, embDf)
    docsDf = d.filter(col("doc_id") < 100)
    embDf = e.filter(col("vec_id") < 100)
    try for (st <- stages) {
      val r = new OpRun(Op("warmup", "stage", st, None, None, Nil, None), -1)
      run(r, None)
    } finally { docsDf = d; embDf = e; pairsDf = null }
  }

  def stream(ops: Seq[Op]): Seq[(Op, Int)] = for (p <- 0 until passes; op <- ops) yield op -> p

  private def build(st: String): DataFrame = st match {
    case "analyze" => TextAnalysis.analyze(docsDf)
    case "exact_dedup" => Dedup.exactDedup(docsDf)
    case "minhash" => Dedup.minhashNearDuplicates(docsDf, threshold = Threshold, bands = 8, rows = 4)
    case "cc_dedup" => Dedup.dedupByPairs(docsDf, pairsDf)
    case "simhash" => Dedup.simhashNearDuplicates(docsDf, maxHamming = MaxHamming)
    case "chunk_dedup" => Dedup.chunkDedup(docsDf, chunkWords = 10)
    case "lm_score" => LangModel.scoreBigramLmFused(docsDf)
    case "kmeans" => Clustering.kmeans(embDf, k = K, iters = 2)
    case "knn" => Similarity.bruteForceTopK(embDf, embDf.filter(col("vec_id") < Queries), k = Neighbours)
  }

  private val collected = Set("minhash", "simhash", "kmeans", "knn")

  def run(r: OpRun, t: Option[Tracer]): Unit = {
    import Harness.span
    val st = r.op.sql
    val b0 = Clock.nowUs
    val df = span(t, r, "build")(build(st))
    val e0 = Clock.nowUs
    r.buildUs = e0 - b0
    span(t, r, "exec") {
      if (collected(st)) {
        r.rows = df.collect().toSeq
        r.rowsOut = r.rows.size
        r.digest = Check.digest(r.rows)
      } else {
        val h = shiftrightunsigned(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*), 24)
        val extra: Column = st match {
          case "analyze" => sum(col("n_tokens").cast("long"))
          case "chunk_dedup" => sum(col("n_kept").cast("long"))
          case _ => lit(0L)
        }
        val row = df.agg(count(lit(1)), coalesce(sum(h), lit(0L)), coalesce(extra, lit(0L))).head()
        r.rowsOut = row.getLong(0)
        r.digest = row.getLong(1)
        r.extra = row.getLong(2)
      }
    }
    r.execUs = Clock.nowUs - e0
    if (st == "minhash") pairsDf = session.createDataFrame(
      r.rows.map(x => (x.getAs[Long]("doc_id_a"), x.getAs[Long]("doc_id_b"))))
      .toDF("doc_id_a", "doc_id_b")
  }

  private def shingles(text: String): Set[String] = {
    val w = text.trim.toLowerCase.split("\\s+")
    (0 to math.max(w.length - 3, 0)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  /** Rules each stage's output must meet, stated against the planted
    * ground truth in truth.json or recomputed here from the raw texts.
    * Every pass must also reproduce the first pass's digest.
    */
  def verify(runs: Seq[OpRun]): Unit = {
    val text = session.read.parquet(s"$data/documents.parquet").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    lazy val vec = session.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val n = truthL("n_docs")
    val nVecs = truthL("n_vecs")
    val planted = truth("pairs").asInstanceOf[Seq[Seq[Any]]]
      .map(p => (p(0).asInstanceOf[Number].longValue, p(1).asInstanceOf[Number].longValue)).toSet
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh.getOrElseUpdate(a, shingles(text(a))), sh.getOrElseUpdate(b, shingles(text(b))))
      (x & y).size.toDouble / (x | y).size
    }
    def pairs(r: OpRun) = r.rows.map(x => (x.getAs[Long]("doc_id_a"), x.getAs[Long]("doc_id_b")))
    val first = mutable.HashMap.empty[String, OpRun]
    var lastPairs: Seq[(Long, Long)] = Nil
    for (r <- runs.filter(_.error.isEmpty)) {
      val st = r.op.sql
      def fail(msg: String): Unit = if (r.wrong.isEmpty) r.wrong = Some(s"$st: $msg")
      first.get(st) match {
        case Some(f) if f.digest != r.digest || f.rowsOut != r.rowsOut =>
          fail(s"pass ${r.pass} output differs from pass ${f.pass}")
        case None => first(st) = r
        case _ =>
      }
      st match {
        case "analyze" =>
          if (r.rowsOut != n || r.extra != truthL("tokens"))
            fail(s"${r.rowsOut} rows / ${r.extra} tokens, planted $n / ${truthL("tokens")}")
        case "exact_dedup" =>
          if (r.rowsOut != truthL("distinct_texts"))
            fail(s"kept ${r.rowsOut}, planted distinct normalized texts ${truthL("distinct_texts")}")
        case "minhash" =>
          val ps = pairs(r)
          lastPairs = ps
          val exact = r.rows.map(x => jac(x.getAs[Long]("doc_id_a"), x.getAs[Long]("doc_id_b")))
          val precision = if (ps.isEmpty) 1.0 else exact.count(_ >= Threshold).toDouble / ps.size
          val recall = if (planted.isEmpty) 1.0 else ps.count(planted).toDouble / planted.size
          quality("ops.minhash.recall") = recall
          quality("ops.minhash.precision") = precision
          val badJ = r.rows.zip(exact).exists { case (x, j) => math.abs(x.getAs[Double]("jaccard") - j) > 1e-6 }
          if (ps.exists { case (a, b) => a >= b } || ps.distinct.size != ps.size || badJ)
            fail("pairs not ordered, not distinct, or reported Jaccard differs from the exact one")
          if (precision < 1.0 || recall < 0.9) fail(s"precision $precision, recall $recall against planted pairs")
        case "cc_dedup" =>
          val parent = mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
          for ((a, b) <- lastPairs) { val (x, y) = (find(a), find(b)); if (x != y) parent(math.max(x, y)) = math.min(x, y) }
          val losers = (lastPairs.flatMap(p => Seq(p._1, p._2))).distinct.count(x => find(x) != x)
          if (r.rowsOut != n - losers) fail(s"kept ${r.rowsOut}, components of the minhash pairs leave ${n - losers}")
        case "simhash" =>
          val ps = pairs(r)
          quality("ops.simhash.recall") = if (planted.isEmpty) 1.0 else ps.count(planted).toDouble / planted.size
          if (ps.exists { case (a, b) => a >= b } || ps.distinct.size != ps.size ||
              r.rows.exists(x => x.getAs[Number]("hamming").intValue > MaxHamming))
            fail("pairs not ordered, not distinct, or over the Hamming bound")
        case "chunk_dedup" =>
          val chunks = text.values.flatMap { t =>
            t.trim.split("\\s+").grouped(10).map(_.mkString(" "))
          }.toSet.size
          if (r.rowsOut != n || r.extra != chunks) fail(s"${r.rowsOut} docs / ${r.extra} kept chunks, expected $n / $chunks")
        case "lm_score" =>
          if (r.rowsOut != n) fail(s"${r.rowsOut} scored docs, expected $n")
        case "kmeans" =>
          if (r.rowsOut != nVecs || r.rows.exists(x => { val c = x.getAs[Number]("cluster").intValue; c < 0 || c >= K }))
            fail(s"${r.rowsOut} assignments, expected $nVecs in clusters 0..${K - 1}")
        case "knn" =>
          // exact top-k cosine over all other vectors, compared by value so
          // ties may resolve to either neighbour
          val byQ = r.rows.groupBy(_.getAs[Long]("query_id"))
          val exact = (0L until Queries).map { q =>
            val v = vec(q)
            q -> vec.toSeq.filter(_._1 != q).map { case (_, u) => cos(v, u) }.sorted.reverse.take(Neighbours)
          }.toMap
          val ok = byQ.size == Queries && byQ.forall { case (q, rs) =>
            rs.map(_.getAs[Double]("cosine")).sorted.reverse.zip(exact(q)).forall { case (g, w) => math.abs(g - w) < 2e-6 } &&
              rs.size == Neighbours
          }
          if (!ok) fail("neighbours differ from the exact top-k cosine")
      }
    }
  }
}
