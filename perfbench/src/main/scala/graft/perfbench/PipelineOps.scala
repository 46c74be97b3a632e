package graft.perfbench

import graft.pipeline.{AnnIndex, Dedup, Retrieval}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The pipeline entry points over indexes built in set-up: BM25 search
  * through the kv postings index, quantized IVF top-k, a k-NN join of a
  * seeded query subset, and MinHash near-duplicate detection over the
  * documents. Part of the kv_analytic rotation; graft.pipeline and
  * graft.functions do the work and the kv layers are barely touched. */
final class PipelineOps(ctx: Ctx) {
  private def spark = ctx.spark
  private var ns: String = _
  private def dir(name: String): String = s"${ctx.kvRoot}/$ns/$name"
  var loadBytes = 0L

  private val TopK = 10
  private val KnnK = 5
  private val KnnQueries = 16
  private val PoolSize = 8
  /** BM25 queries per data set; each operation's seed picks one. */
  private val Bm25Queries = 12
  /** Least mean recall@k against the brute-force top-k an approximate
    * answer must reach; the query vector itself must always rank first. */
  private val MinRecall = 0.9
  private val Jaccard = 0.7
  /** Planted pairs at or above this exact Jaccard must be reported. */
  private val PlantedJaccard = 0.9

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var bm25Pool: Seq[(Seq[String], Seq[String])] = Nil
  private var ivfPool: Seq[Long] = Nil
  private var knnPool: Seq[Seq[Long]] = Nil
  private var vectors: Map[Long, Array[Double]] = Map.empty
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var rows = 0L

  def dataDirs: Seq[String] = Seq(dir("bm25"), dir("ann"))
  def liveRows: Long = rows

  /** Builds the BM25 and IVF indexes in namespace `ns`. */
  def setup(ns: String): Unit = {
    this.ns = ns
    Retrieval.buildIndex(docs, dir("bm25"))
    AnnIndex.build(emb, dir("ann"), Data.EmbeddingDim)
  }

  def prepare(): Unit = {
    docs = ctx.source("documents")
    emb = ctx.source("embeddings")
    val rng = new scala.util.Random(ctx.seed * 7919 + 5)
    // the BM25 queries are fixed per data set, so their answers are computed once
    val qrng = new scala.util.Random(Data.Version)
    val (texts, vecs) = ctx.memo("pipeline-inputs") {
      (docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toList).toMap,
        emb.select("vec_id", "embedding").collect().map(r =>
          r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap)
    }
    shingles = texts.map { case (id, w) => id -> w.sliding(3).map(_.mkString(" ")).toSet }
    planted = texts.keys.toSeq.sorted
      .filter(d => d % Data.NearDupStride == Data.NearDupStride - 1)
      .map(d => (d - 1, d)).filter { case (a, b) => jaccard(a, b) >= PlantedJaccard }
    def term(): String = {
      val u = qrng.nextDouble()
      f"w${math.floor(u * u * Data.Vocabulary).toInt}%03d"
    }
    val queries = Seq.fill(Bm25Queries)(Seq.fill(1 + qrng.nextInt(3))(term()).distinct.toList)
    val (answers, bytes) = ctx.memo(s"pipeline-${queries.hashCode}") {
      (queries.map(q => Workload.canonRows(Retrieval.bm25TopK(docs, q, TopK).collect().toSeq).toList),
        Workload.rowBytes(docs) + Workload.rowBytes(emb))
    }
    bm25Pool = queries.zip(answers)
    vectors = vecs
    val ids = vectors.keys.toIndexedSeq.sorted
    ivfPool = Seq.fill(PoolSize)(ids(rng.nextInt(ids.size)))
    knnPool = Seq.fill(3)(Seq.fill(KnnQueries)(ids(rng.nextInt(ids.size))).distinct)
    rows = texts.size.toLong + vectors.size
    loadBytes = bytes
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k neighbour ids of `q` by cosine, brute force. */
  private def bruteTopK(q: Long, k: Int): Seq[Long] = {
    val qv = vectors(q)
    vectors.toSeq.map { case (id, v) => (id, cosine(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  /** None when every query ranks itself first and the answers hold, over
    * all queries of the operation, at least [[MinRecall]] of the exact
    * top-k (mean recall@k). `got` maps each query to its ranked ids. */
  private def annCheck(qs: Seq[Long], got: Map[Long, Seq[Long]], k: Int): Option[String] = {
    val exact = qs.map(q => q -> bruteTopK(q, k)).toMap
    val ranked = qs.map(q => q -> got.getOrElse(q, Nil)).toMap
    val noSelf = qs.filterNot(q => ranked(q).headOption.contains(q))
    val recall = qs.map(q => ranked(q).count(exact(q).contains)).sum.toDouble / (k * qs.size)
    if (noSelf.isEmpty && recall >= MinRecall) None
    else Some(f"recall@$k $recall%.3f; " + qs.filter(q => ranked(q) != exact(q)).take(3)
      .map(q => s"query $q: got ${ranked(q).mkString(",")}, exact ${exact(q).mkString(",")}")
      .mkString("; "))
  }

  private def minhashCheck(got: Seq[Row]): Option[String] = {
    val pairs = got.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val found = pairs.map { case ((a, b), _) => (math.min(a, b), math.max(a, b)) }.toSet
    val missed = planted.filterNot(found.contains)
    val wrong = pairs.filter { case ((a, b), j) =>
      val exact = jaccard(a, b)
      exact < Jaccard - 1e-9 || math.abs(exact - j) > 1e-9
    }
    if (missed.isEmpty && wrong.isEmpty) None
    else Some(s"missed planted pairs ${missed.take(5).mkString(",")}; " +
      s"pairs below threshold or misscored ${wrong.take(5).mkString(",")}")
  }

  val kinds = Seq("bm25", "ivf", "knn", "minhash")

  def op(kind: String, rng: scala.util.Random): Op = kind match {
    case "bm25" =>
      val (q, want) = bm25Pool(rng.nextInt(bm25Pool.size))
      new Op(kind, "query", s"bm25 ${q.mkString(" ")}",
        _.collect(Retrieval.bm25SearchIndex(spark, dir("bm25"), q, TopK)),
        got => Workload.diff(Workload.canonRows(got), want))
    case "ivf" =>
      val q = ivfPool(rng.nextInt(ivfPool.size))
      new Op(kind, "query", s"ivf $q",
        _.collect(AnnIndex.ivfTopKQuantized(spark, dir("ann"),
          vectors(q).map(_.toFloat).toSeq, TopK)),
        got => annCheck(Seq(q), Map(q -> got.map(_.getLong(0))), TopK))
    case "knn" =>
      val qs = knnPool(rng.nextInt(knnPool.size))
      new Op(kind, "query", s"knn ${qs.mkString(",")}",
        _.collect(AnnIndex.knnJoin(spark, dir("ann"),
          emb.filter(col("vec_id").isin(qs: _*)), KnnK)),
        got => annCheck(qs, got.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)) }, KnnK))
    case "minhash" =>
      new Op(kind, "query", "minhash",
        _.collect(Dedup.minhashNearDuplicates(docs, threshold = Jaccard)), minhashCheck)
  }
}
