package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.{RollingHash, TextFunctions}
import graft.pipeline.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` /
  * `embeddings` corpus tables: deduplication, text analysis, similarity
  * search, multimodal plumbing. SQL-expressible ops carry DuckDB oracles;
  * hash-based ops (engine-specific xxhash64) are rows-only here and
  * pinned by ScalaTest specs instead.
  */
object PipelineOps {

  /** Run a streaming gate: the corpus documents file as a bounded file
    * stream through `build`, drained via a memory sink (AvailableNow);
    * returns the sink table. The parquet file streams via a scratch dir
    * holding one symlink, and the link is re-pointed whenever it is
    * dangling or aimed at another corpus (NOFOLLOW existence check — a
    * stale or hash-colliding link must never stream the wrong data). */
  private def streamedDocuments(s: SparkSession, d: String, tag: String)(
      build: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, LinkOption, Paths}
    val path = s"$d/documents.parquet"
    val schema = s.read.parquet(path).schema
    val srcDir = Paths.get("/tmp", s"graft_${tag}_src_${math.abs(d.hashCode)}")
    Files.createDirectories(srcDir)
    val link = srcDir.resolve("documents.parquet")
    val target = Paths.get(path)
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) &&
        (!Files.isSymbolicLink(link) || Files.readSymbolicLink(link) != target))
      Files.delete(link)
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      Files.createSymbolicLink(link, target)
    val out = build(s.readStream.schema(schema).parquet(srcDir.toString))
    val sink = s"${tag}_sink"
    s.catalog.dropTempView(sink) // re-runs in one session start clean
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(sink)
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Corpus fingerprint over a source parquet table — the cache key all
    * fixture index dirs fold in, so an index built from a previous
    * driver-generated corpus is rebuilt, never probed. Folds every
    * file's (relative path, length, mtime) through MD5 — an additive
    * length+mtime stamp was collision-prone (bytes moving between
    * files, or offsetting mtime changes, preserved the sum and could
    * silently reuse a stale index). */
  private def corpusFp(sfDir: String, table: String = "documents"): String = {
    val root = new java.io.File(s"$sfDir/$table.parquet")
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(walk(root).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private val mhLock = new Object

  /** dd11 fixture: a persisted MinHash index over every document EXCEPT
    * the arriving batch (doc_id % 7 == 3). Idempotent per corpus
    * fingerprint; the params sidecar is the build's commit marker. */
  private def ensureMinhashIndex(s: SparkSession, sfDir: String): String =
    mhLock.synchronized {
      val fp = corpusFp(sfDir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mh/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/base_$fp"
      if (!new java.io.File(s"$path/_minhash_params.json").exists() ||
          !new java.io.File(s"$path/minhash/_SUCCESS").exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
          "base_", s"base_$fp")
        Dedup.buildMinhashIndex(
          t(s, sfDir, "documents").filter(col("doc_id") % 7 =!= 3), path)
      }
      path
    }

  /** dd12 fixture: index over doc_id % 7 ∉ {3, 5}, then batch 3 added
    * through the real [[Dedup.appendToMinhashIndex]] path — probing
    * batch 5 against it proves append end-to-end. The `_APPENDED`
    * marker makes the mutation idempotent within a round; the corpus
    * fingerprint invalidates across rounds. */
  private def ensureAppendedMinhashIndex(s: SparkSession,
      sfDir: String): String = mhLock.synchronized {
    val fp = corpusFp(sfDir)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_mh/" +
      s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/app_$fp"
    val marker = new java.io.File(s"$path/_APPENDED")
    if (!marker.exists() ||
        !new java.io.File(s"$path/_minhash_params.json").exists()) {
      graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
        "app_", s"app_$fp")
      val docs = t(s, sfDir, "documents")
      Dedup.buildMinhashIndex(
        docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 7 =!= 5),
        path)
      Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 7 === 3), path)
      marker.createNewFile()
    }
    path
  }

  /** Word-shingle Jaccard pair oracle with EXHAUSTIVE semantics in
    * near-linear DuckDB — the shared skeleton of every dedup gate.
    * Candidate generation is the exact PREFIX FILTER (PPJoin, Xiao et
    * al. 2008): if J(a,b) >= t then |a∩b| >= t·|a∪b| >= ⌈t·n⌉ for each
    * side's length n, so under ANY global element order the two sorted
    * lists must share an element within their first n - ⌈t·n⌉ + 1
    * entries — the candidate equi-join on prefix shingles provably
    * loses nothing, and the exact-Jaccard verify on top keeps the
    * result IDENTICAL to the naive |D|² restatement (cross-checked
    * row-for-row against the naive form at sf0.001/sf0.01). The naive
    * form made every dedup oracle quadratic ORACLE-side and full-corpus
    * parity at sf0.1 impractical (dd3 alone was >5 min single-query).
    *
    * Verification cost controls, each exact: (1) the candidate DISTINCT
    * runs over scalar id pairs and the length-ratio filter — J >= t
    * forces min(n) >= ⌈t·max(n)⌉ — before the shingle sets are joined
    * back; (2) |a∪b| comes from the identity na + nb − |a∩b| (the sets
    * are distinct by construction), never a per-pair concat+distinct;
    * (3) a hash pre-filter discards pairs on int64-hashed sets first —
    * made ONE-SIDED by an escape hatch: a cross-set collision only
    * merges elements (J_h >= J), but a WITHIN-set collision can shrink
    * intersection and union together and push J_h BELOW J. Within-set
    * collisions are detectable (|h(A)| < |A|), so any pair where either
    * side's hashed set lost an element bypasses the pre-filter and
    * falls through to the exact string-set verify — a collision can
    * never add OR drop a pair, unconditionally, not just w.h.p.
    * Full-corpus sf0.1 cost: minutes total across all dedup gates.
    * Produces the CTE chain up to `pairs(doc_a, doc_b, jaccard)`;
    * callers append their SELECT tail (and set `recursive` when the
    * tail adds recursive CTEs). */
  private def jaccardPairOracle(shingleN: Int, threshold: String,
      recursive: Boolean = false, whereClause: String = ""): String = {
    val concat = (0 until shingleN)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
    val rec = if (recursive) "RECURSIVE " else ""
    raw"""WITH ${rec}toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
         |  FROM documents
         |),
         |sh AS (
         |  SELECT doc_id, s, len(s) AS n,
         |    list_distinct(list_transform(s, x -> hash(x))) AS hs
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(w) < $shingleN THEN [array_to_string(w, ' ')]
         |           ELSE list_distinct(list_transform(generate_series(1, len(w) - ${shingleN - 1}),
         |                  i -> $concat))
         |      END AS s
         |    FROM toks)
         |),
         |pref AS (
         |  SELECT doc_id, n,
         |    unnest(list_slice(list_sort(s), 1,
         |      CAST(n - ceil($threshold * n) + 1 AS INTEGER))) AS p
         |  FROM sh
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id
         |    AND a.n >= ceil($threshold * b.n) AND b.n >= ceil($threshold * a.n)
         |  $whereClause
         |),
         |hver AS (
         |  SELECT doc_a, doc_b, sa, sb, na, nb FROM (
         |    SELECT doc_a, doc_b, sa, sb, na, nb,
         |      len(list_intersect(ha, hb)) AS hi, len(ha) + len(hb) AS hn,
         |      len(ha) AS la, len(hb) AS lb
         |    FROM (
         |      SELECT c.doc_a, c.doc_b, x.s AS sa, y.s AS sb,
         |        x.n AS na, y.n AS nb, x.hs AS ha, y.hs AS hb
         |      FROM cand c JOIN sh x ON c.doc_a = x.doc_id
         |                  JOIN sh y ON c.doc_b = y.doc_id))
         |  WHERE CAST(hi AS DOUBLE) / (hn - hi) >= $threshold
         |     OR la < na OR lb < nb
         |),
         |pairs AS (
         |  SELECT doc_a, doc_b,
         |    CASE WHEN na + nb - isect = 0 THEN 0.0
         |         ELSE CAST(isect AS DOUBLE) / (na + nb - isect) END AS jaccard
         |  FROM (SELECT doc_a, doc_b, na, nb,
         |          len(list_intersect(sa, sb)) AS isect FROM hver)
         |)"""
  }

  /** The dd3-semantics trigram-Jaccard oracle with a caller-supplied
    * pair restriction — shared by the incremental and streaming-ingest
    * dedup gates. */
  private def allPairsDedupOracle(whereClause: String): String =
    jaccardPairOracle(3, "0.7", whereClause = whereClause) +
      raw"""
           |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.7
           |ORDER BY doc_a, doc_b"""

  /** Incremental-dedup gate oracle: pairs touching the arriving batch
    * (doc_id % 7 == `rem`) — a hash-match proves the index probe finds
    * EXACTLY what a full-corpus run would have found for the new
    * documents. */
  private def incrementalDedupOracle(rem: Int): String =
    allPairsDedupOracle(
      s"WHERE a.doc_id % 7 = $rem OR b.doc_id % 7 = $rem")

  /** dd13 fixture: the corpus split into 4 range-partitioned parquet
    * files, so the bounded file stream arrives as 4 microbatches
    * (maxFilesPerTrigger=1). Fingerprint-keyed like every fixture. */
  private def ensureSplitDocs(s: SparkSession, sfDir: String): String =
    mhLock.synchronized {
      val fp = corpusFp(sfDir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_mh/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/split_$fp"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
          "split_", s"split_$fp")
        t(s, sfDir, "documents").repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(path)
      }
      path
    }

  private val annLock = new Object

  /** ann13 fixture: the embeddings corpus split into 4 range-partitioned
    * parquet files, so the bounded file stream arrives as 4 microbatches
    * (`maxFilesPerTrigger = 1`). Fingerprint-keyed like every fixture. */
  private def ensureSplitEmb(s: SparkSession, sfDir: String): String =
    annLock.synchronized {
      val fp = corpusFp(sfDir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ann/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/split_$fp"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
          "split_", s"split_$fp")
        t(s, sfDir, "embeddings").repartitionByRange(4, col("vec_id"))
          .write.mode("overwrite").parquet(path)
      }
      path
    }

  /** Bounded (k-row) invariant reduction for the ANN gate queries: row
    * count, self-hit at rank 1, monotone sims, and sim-vs-exact-cosine
    * equality for every returned id (`res` columns: vec_id, sim).
    * Driver-side work is k rows — constant at any corpus size. */
  private def annInvariants(s: SparkSession, emb: DataFrame,
      q: Seq[Float], res: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val qArr = array(q.map(v => lit(v)): _*)
    val returned = res.collect() // k rows, in result (sim desc, id) order
      .map(r => (r.getAs[Number]("vec_id").longValue(),
        r.getAs[Number]("sim").doubleValue()))
    // recompute exact cosines ONLY for the returned ids: the IN filter
    // pushes to the scan, so verification reads k vectors, not the
    // corpus (the whole point of probing an index is not to rescan)
    val xsim: Map[Long, Double] =
      emb.filter(col("vec_id").isin(returned.map(t => Long.box(t._1)): _*))
        .select(col("vec_id").cast("long"),
          Similarity.cosine(col("embedding"), qArr).as("xsim"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sims = returned.map(_._2)
    // self-similarity lands within an ulp of 1.0 (d/(na·nb) can round
    // to 1.0000000000000002) — rank is the invariant, not the literal
    val selfHit = returned.headOption.exists { case (id, sim) =>
      id == 0L && math.abs(sim - 1.0) < 1e-9 }
    val descending = sims.zip(sims.drop(1)).forall { case (a, b) => a >= b }
    val simsExact = returned.forall { case (id, sim) =>
      xsim.get(id).contains(sim) }
    Seq((returned.length, selfHit, descending, simsExact))
      .toDF("n_returned", "self_hit", "sims_descending", "sims_exact")
  }

  /** Shared invariant checker of the batch k-NN join gates (ann9 exact,
    * ann11 quantized): k dense ranks per query, self at rank 1 within
    * `selfTol`, and every sim within `simTol` of the exact cosine
    * recomputed in ONE broadcast join (never a per-query rescan);
    * `simTol = 0` demands bitwise equality. */
  private def knnJoinInvariants(s: SparkSession, emb: DataFrame,
      rows: Array[(Long, Long, Double, Int)], k: Int,
      selfTol: Double, simTol: Double, simColName: String): DataFrame = {
    import s.implicits._
    val byQ = rows.groupBy(_._1)
    val allK = byQ.values.forall(rs =>
      rs.length == k && rs.map(_._4).sorted.sameElements(1 to k))
    val selfRank1 = byQ.forall { case (qid, rs) =>
      rs.find(_._4 == 1).exists(r =>
        r._2 == qid && math.abs(r._3 - 1.0) <= selfTol)
    }
    val prs = rows.toSeq.map(r => (r._1, r._2, r._3))
      .toDF("query_id", "neighbor_id", "sim")
    val drift = abs(col("sim") - Similarity.cosine(col("qe"), col("ne")))
    val chk = prs
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne")), "neighbor_id")
      .agg(count(lit(1)).as("n"),
        count(when(if (simTol == 0.0) col("sim") =!=
            Similarity.cosine(col("qe"), col("ne"))
          else drift > simTol, 1)).as("bad"))
      .head()
    val simsOk = chk.getLong(0) == rows.length && chk.getLong(1) == 0L
    Seq((byQ.size, allK, selfRank1, simsOk))
      .toDF("n_queries", "all_k", "self_rank1", simColName)
  }

  /** Idempotently materialize the ANN index side table for a scale
    * factor (signatures + IVF cells, cell-partitioned parquet). Queries
    * probe this instead of recomputing per scan. The path carries
    * [[graft.pipeline.AnnIndex.FormatVersion]]: an index cached by an
    * older build (different signature/centroid scheme) must be ignored,
    * not probed — stale signatures silently drop true candidates. */
  private def ensureAnnIndex(s: SparkSession, sfDir: String, dim: Int): String =
    annLock.synchronized {
      val fp = corpusFp(sfDir, "embeddings")
      val parent = s"${System.getProperty("java.io.tmpdir")}/graft_ann/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val leaf = s"base-v${graft.pipeline.AnnIndex.FormatVersion}_$fp"
      val path = s"$parent/$leaf"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(parent),
          "base-", leaf)
        // pre-fingerprint layout ("embeddings-v*") — dead, sweep too
        graft.Tables.sweepStaleSiblings(new java.io.File(parent),
          "embeddings-", leaf)
        graft.pipeline.AnnIndex.build(t(s, sfDir, "embeddings"), path, dim)
      }
      path
    }

  /** Like [[ensureAnnIndex]], but with every `vec_id % 7 == 2` vector
    * DELETED through the real tombstone path (AnnIndex.delete, not a
    * filtered rebuild) — the ann7 gate's fixture. `_ANNDEL` marks the
    * mutation idempotent within a round. */
  private def ensureDeletedAnnIndex(s: SparkSession, sfDir: String,
      dim: Int): String =
    annLock.synchronized {
      val fp = corpusFp(sfDir, "embeddings")
      val parent = s"${System.getProperty("java.io.tmpdir")}/graft_ann/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val leaf = s"del-v${graft.pipeline.AnnIndex.FormatVersion}_$fp"
      val path = s"$parent/$leaf"
      val marker = new java.io.File(s"$path/_ANNDEL")
      if (!new java.io.File(s"$path/_SUCCESS").exists() || !marker.exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(parent),
          "del-", leaf)
        val emb = t(s, sfDir, "embeddings")
        graft.pipeline.AnnIndex.build(emb, path, dim)
        graft.pipeline.AnnIndex.delete(s, path,
          emb.select(col("vec_id")).filter(col("vec_id") % 7 === 2))
        marker.createNewFile()
      }
      path
    }

  /** ann12 fixture: index built over vec_id % 7 ≠ 4, then batch 4 added
    * through the real [[graft.pipeline.AnnIndex.append]] path (cell
    * assignment against the FROZEN centroids, int8 quantization with the
    * frozen scales, drift-stat update — never a rebuild). The `_ANNAPP`
    * marker makes the mutation idempotent within a round; the corpus
    * fingerprint invalidates across rounds. */
  private def ensureAppendedAnnIndex(s: SparkSession, sfDir: String,
      dim: Int): String =
    annLock.synchronized {
      val fp = corpusFp(sfDir, "embeddings")
      val parent = s"${System.getProperty("java.io.tmpdir")}/graft_ann/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val leaf = s"app-v${graft.pipeline.AnnIndex.FormatVersion}_$fp"
      val path = s"$parent/$leaf"
      val marker = new java.io.File(s"$path/_ANNAPP")
      if (!new java.io.File(s"$path/_SUCCESS").exists() || !marker.exists()) {
        graft.Tables.sweepStaleSiblings(new java.io.File(parent),
          "app-", leaf)
        val emb = t(s, sfDir, "embeddings")
        graft.pipeline.AnnIndex.build(
          emb.filter(col("vec_id") % 7 =!= 4), path, dim)
        graft.pipeline.AnnIndex.append(
          emb.filter(col("vec_id") % 7 === 4), path)
        marker.createNewFile()
      }
      path
    }

  private val irLock = new Object

  /** Idempotently materialize the inverted index (kv postings/doclen +
    * stats parquet) for a corpus. Bump the version segment when the
    * index layout changes — a stale cached index must be rebuilt, not
    * probed. The cache key also folds in a CORPUS FINGERPRINT (size +
    * mtime of the documents parquet): the driver regenerates
    * /root/testdata between rounds, and probing an index built from the
    * previous corpus would fail the gates against a fresh oracle with
    * no hint why. */
  private def ensureRetrievalIndex(s: SparkSession, sfDir: String): String =
    irLock.synchronized {
      // MD5 corpus fingerprint (same rationale as corpusFp) — the
      // additive length+mtime stamp this used before was collision-prone
      val fp = corpusFp(sfDir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ir/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/v5_$fp" // v5: sidecar format V15
      if (graft.connector.GraftKvMeta.read(s"$path/postings").isEmpty ||
          graft.connector.GraftKvMeta.read(s"$path/positions").isEmpty ||
          graft.connector.GraftKvMeta.read(s"$path/docterms").isEmpty ||
          !new java.io.File(s"$path/stats/_SUCCESS").exists()) {
        graft.connector.KvCommands.dropTable(s"$path/postings")
        graft.connector.KvCommands.dropTable(s"$path/positions")
        graft.connector.KvCommands.dropTable(s"$path/doclen")
        graft.connector.KvCommands.dropTable(s"$path/docterms")
        // indexes built from earlier corpus generations are dead — sweep
        // their fingerprint dirs so rounds don't accumulate tmp copies
        graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
          "v5_", s"v5_$fp")
        graft.pipeline.Retrieval.buildIndex(t(s, sfDir, "documents"), path)
      }
      path
    }

  /** Like [[ensureRetrievalIndex]], but the index then has every
    * `doc_id % 10 == 3` document DELETED through the real
    * [[graft.pipeline.Retrieval.deleteFromIndex]] path (tombstones, not
    * a rebuild) — the ir7 gate's fixture. The `_DELETED` marker makes
    * the mutation step idempotent across re-runs in one round; the
    * corpus fingerprint in the path invalidates across rounds. */
  private def ensureDeletedRetrievalIndex(s: SparkSession,
      sfDir: String): String =
    irLock.synchronized {
      val fp = corpusFp(sfDir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ir/" +
        s"${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}/del3_$fp"
      val marker = new java.io.File(s"$path/_DELETED")
      if (graft.connector.GraftKvMeta.read(s"$path/postings").isEmpty ||
          graft.connector.GraftKvMeta.read(s"$path/docterms").isEmpty ||
          !marker.exists()) {
        Seq("postings", "positions", "doclen", "docterms").foreach(tbl =>
          graft.connector.KvCommands.dropTable(s"$path/$tbl"))
        marker.delete()
        graft.Tables.sweepStaleSiblings(new java.io.File(path).getParentFile,
          "del3_", s"del3_$fp")
        val corpus = t(s, sfDir, "documents")
        graft.pipeline.Retrieval.buildIndex(corpus, path)
        graft.pipeline.Retrieval.deleteFromIndex(s, path,
          corpus.select(col("doc_id")).filter(col("doc_id") % 10 === 3))
        marker.createNewFile()
      }
      path
    }

  /** The shared BM25 oracle: the rational Robertson–Sparck-Jones idf —
    * no transcendental whose libm could differ by an ulp across engines
    * — with every literal cast to DOUBLE (DuckDB numerics default to
    * DECIMAL) and per-term contributions summed through DECIMAL(38,6)
    * for order independence. ir1 (corpus scan) and ir2 (index probe)
    * must both hash-match it, which also proves scan ≡ index. */
  private[operators] val bm25OracleSql: String = bm25OracleOver("documents")

  /** The same oracle over a restricted corpus (`fromSql` is the FROM
    * source, e.g. a filtered subquery) — ir7 scores against the corpus
    * MINUS its deleted documents. */
  private[operators] def bm25OracleOver(fromSql: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0) AS w
      |  FROM $fromSql
      |),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(w)) AS BIGINT) AS sum_dl
      |  FROM toks
      |),
      |hits AS (
      |  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
      |  WHERE tok IN ('spark','scan','window')
      |  GROUP BY doc_id, tok
      |),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY term),
      |scored AS (
      |  SELECT h.doc_id,
      |    ((CAST(s.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |      / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |    * ((CAST(h.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(h.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |            * (CAST(len(t.w) AS DOUBLE)
      |               / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS contrib
      |  FROM hits h JOIN toks t USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN stats s
      |)
      |SELECT doc_id, CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS score,
      |  CAST(count(*) AS INTEGER) AS n_terms
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  private[operators] val bm25Query = Seq("spark", "scan", "window")

  val specs: Seq[QuerySpec] = Seq(

    // ── full-text retrieval (BM25 + inverted index + phrase) ────────────
    // BM25 top-k straight off the corpus: query-term tokens filtered
    // BEFORE the shuffle, df/corpus stats broadcast — shuffle bytes are
    // O(matching tokens), never O(corpus).
    QuerySpec.checked("ir1_bm25_topk", bm25OracleSql) { (s, d) =>
      graft.pipeline.Retrieval.bm25TopK(t(s, d, "documents"), bm25Query, k = 10)
    },

    // The same ranking served from the MATERIALIZED inverted index: kv
    // postings keyed by (term, doc_id), so the term IN (...) filter
    // probes |query| contiguous key ranges through the engine's own
    // seek/prune machinery — the corpus text is never re-read. Same
    // oracle as ir1: the index must reproduce the scan path bit-for-bit.
    QuerySpec.checked("ir2_bm25_index", bm25OracleSql) { (s, d) =>
      graft.pipeline.Retrieval.bm25SearchIndex(
        s, ensureRetrievalIndex(s, d), bm25Query, k = 10)
    },

    // Index with real DELETIONS (round-12): every doc_id % 10 == 3
    // document removed via deleteFromIndex (docterms-probe tombstones,
    // not a rebuild) — the probe must rank EXACTLY as a fresh scan of
    // the shrunk corpus, i.e. df, avgdl and n_docs all reflect the
    // removals (stale postings or stats would shift every score).
    QuerySpec.checked("ir7_bm25_after_delete",
      bm25OracleOver("(SELECT * FROM documents WHERE doc_id % 10 <> 3)")) {
      (s, d) =>
        graft.pipeline.Retrieval.bm25SearchIndex(
          s, ensureDeletedRetrievalIndex(s, d), bm25Query, k = 10)
    },

    // BATCH BM25 — the serving shape at scale: one tokenize + one
    // shuffle amortized over the whole (broadcast) query set, per-term
    // df shared across queries, per-query top-k via one window pass.
    // Same IEEE-mirrorable arithmetic as ir1.
    QuerySpec.checked("ir4_bm25_batch",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(w)) AS BIGINT) AS sum_dl
        |  FROM toks
        |),
        |qt(query_id, term) AS (VALUES
        |  ('q1','spark'),('q1','scan'),('q1','window'),
        |  ('q2','table'),('q2','value'),
        |  ('q3','merge'),('q3','sort'),('q3','batch')),
        |post AS (
        |  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
        |  WHERE tok IN (SELECT term FROM qt)
        |  GROUP BY doc_id, tok
        |),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    ((CAST(s.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        |    * ((CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |      / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |            * (CAST(len(t.w) AS DOUBLE)
        |               / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS contrib
        |  FROM post p JOIN qt q USING (term) JOIN dfreq d USING (term)
        |    JOIN toks t USING (doc_id) CROSS JOIN stats s
        |),
        |agg AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS score,
        |    CAST(count(*) AS INTEGER) AS n_terms
        |  FROM scored GROUP BY query_id, doc_id
        |)
        |SELECT query_id, doc_id, score, n_terms, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rk FROM agg)
        |WHERE rk <= 5 ORDER BY query_id, rk""") { (s, d) =>
      graft.pipeline.Retrieval.bm25TopKBatch(t(s, d, "documents"),
        Seq("q1" -> Seq("spark", "scan", "window"),
          "q2" -> Seq("table", "value"),
          "q3" -> Seq("merge", "sort", "batch")), k = 5)
    },

    // The SEARCH SQL statement itself under the driver gate: same
    // oracle as ir1, exercised through the parser extension + command
    // path (`SEARCH documents FOR '…' TOP 10`) rather than the Column
    // API — the full SQL-user surface is oracle-checked.
    QuerySpec.checked("ir6_search_sql", bm25OracleSql) { (s, d) =>
      Tables.table(s, d, "documents").createOrReplaceTempView("ir6_docs")
      s.sql(s"SEARCH ir6_docs FOR '${bm25Query.mkString(" ")}' TOP 10")
    },

    // Exact phrase search: occurrence counts per document, map-only (a
    // higher-order filter over the token array — zero shuffle at any
    // corpus size).
    QuerySpec.checked("ir3_phrase_search",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 2 THEN 0
        |         ELSE len(list_filter(generate_series(1, len(w) - 1),
        |                i -> w[i] = 'table' AND w[i+1] = 'value')) END AS n
        |  FROM toks
        |)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_occ FROM c WHERE n > 0
        |ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Retrieval.phraseCounts(
        t(s, d, "documents"), Seq("table", "value"))
        .select(col("doc_id"), col("n_occ").cast("int").as("n_occ"))
        .orderBy("doc_id")
    },


    // ── deduplication ────────────────────────────────────────────────────
    QuerySpec.checked("dd1_exact_dedup",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
        |  min(doc_id) AS keep_id, count(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""") { (s, d) =>
      Dedup.exactDedup(t(s, d, "documents")).orderBy("keep_id")
    },

    QuerySpec.checked("dd2_dedup_stats",
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_unique,
        |  count(*) - count(DISTINCT text) AS n_dupes FROM documents""") { (s, d) =>
      t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dupes"))
    },

    // MinHash/LSH near-dup: the SIGNATURES are xxhash64-based (engine-
    // specific), but the OUTPUT — exact-Jaccard-verified pairs above the
    // threshold — has an ANSI restatement: all-pairs n-gram Jaccard over
    // word-shingle sets. The oracle is exhaustive where the engine is
    // LSH-pruned, so a hash-match also proves LSH recall on this corpus
    // (banded signatures surface every above-threshold pair here).
    QuerySpec.checked("dd3_minhash_lsh_neardup",
      allPairsDedupOracle("")) { (s, d) =>
      Dedup.minhashNearDuplicates(t(s, d, "documents"), k = 64, bands = 16)
        .orderBy("doc_a", "doc_b")
    },

    // SimHash VALUES are engine xxhash64 (not ANSI-restatable), so the
    // gate pins what ANSI can state — one row per document, ids exactly
    // the corpus, no null hash, and the determinism law: identical text
    // ⇒ identical simhash (every duplicate-text group carries exactly
    // one distinct hash). Bit-level semantics stay pinned by DedupSpec.
    QuerySpec.checked("dd4_simhash",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
        |  true AS dup_consistent, true AS no_null_hash
        |FROM documents""") { (s, d) =>
      import s.implicits._
      // one aggregation pass: per duplicate-text group, row/id/null
      // counts and the distinct-hash count (determinism law = max 1)
      val grp = Dedup.simhash64(t(s, d, "documents"))
        .join(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("simhash"), md5(col("text")).as("th"))
        .groupBy("th").agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("doc_id")).as("ids"),
          countDistinct(col("simhash")).as("k2"),
          count(when(col("simhash").isNull, 1)).as("nulls"))
        .agg(sum(col("cnt")), sum(col("ids")), max(col("k2")),
          sum(col("nulls"))).head()
      Seq((grp.getLong(0), grp.getLong(1),
        grp.getLong(2) == 1L, grp.getLong(3) == 0L))
        .toDF("n_docs", "n_ids", "dup_consistent", "no_null_hash")
    },

    // Candidate SET of the simhash near-dup probe is hash-dependent,
    // but its laws are not: every identical-TEXT pair must surface at
    // hamming 0 (equal text ⇒ equal simhash ⇒ all four chunks collide
    // — deterministic recall, not probabilistic), distances stay in
    // [0, maxDist], and pairs are canonical (doc_a < doc_b). The
    // oracle's pair count is an equi-join on text, never all-pairs.
    QuerySpec.checked("dd5_simhash_neardup",
      """SELECT CAST((SELECT count(*) FROM documents a JOIN documents b
        |    ON a.doc_id < b.doc_id AND a.text = b.text) AS BIGINT)
        |  AS n_exact_pairs,
        |  true AS exact_found_at_zero, true AS dists_valid,
        |  true AS canonical""") { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
      val exact = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("a.text") === col("b.text"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val out = Dedup.simhashNearDuplicates(docs, maxDist = 3)
        .persist()
      try {
        val nExact = exact.count()
        val nFound = exact
          .join(out.filter(col("hamming") === 0), Seq("doc_a", "doc_b"),
            "left_semi").count()
        val law = out.agg(
          count(when(col("hamming") < 0 || col("hamming") > 3, 1)).as("oob"),
          count(when(col("doc_a") >= col("doc_b"), 1)).as("nc")).head()
        Seq((nExact, nFound == nExact, law.getLong(0) == 0L,
          law.getLong(1) == 0L))
          .toDF("n_exact_pairs", "exact_found_at_zero", "dists_valid",
            "canonical")
      } finally { out.unpersist(); () }
    },

    // bigram variant at a looser threshold: 32 bands (width 2) keep LSH
    // recall effectively exhaustive down at J=0.5, so the exhaustive
    // all-pairs oracle applies here too
    QuerySpec.checked("dd6_ngram_jaccard",
      jaccardPairOracle(2, "0.5") +
        raw"""
             |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
             |ORDER BY doc_a, doc_b""") { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.jaccardVerify(docs, Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, k = 64, shingle = 2), bands = 32),
        shingle = 2, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // near-dup clustering: connected components over the verified pairs,
    // one canonical doc per cluster (the step that turns pairs into a
    // deduplicated corpus). Oracle: transitive closure of the same
    // above-threshold pair graph (recursive CTE), min reachable id.
    QuerySpec.checked("dd7_neardup_clusters",
      jaccardPairOracle(3, "0.7", recursive = true) +
        raw""",
             |edges AS (
             |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.7
             |  UNION SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.7
             |),
             |reach(id, r) AS (
             |  SELECT a, a FROM edges
             |  UNION
             |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
             |)
             |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
             |ORDER BY doc_id""") { (s, d) =>
      Dedup.nearDupClusters(Dedup.minhashNearDuplicates(t(s, d, "documents")))
        .orderBy("doc_id")
    },

    // STREAMING near-dup: the same pair set as dd3, produced by a real
    // Structured Streaming execution inside the gate — the documents
    // table as a bounded file stream through the stateful banded-LSH
    // operator (flatMapGroupsWithState index + stateful pair dedup),
    // Trigger.AvailableNow, memory sink. Same exhaustive all-pairs
    // Jaccard oracle as dd3: the streaming result must equal the batch
    // operator's bit-for-bit.
    QuerySpec.checked("dd8_streaming_neardup",
      allPairsDedupOracle("")) { (s, d) =>
      streamedDocuments(s, d, "dd8")(Dedup.streamingNearDupPairs(_))
        .orderBy("doc_a", "doc_b")
    },

    // SUBSTRING-level exact dedup (Lee et al. 2022, windowed): every
    // 8-token span occurring more than once in the corpus is removed
    // from all but its globally-first occurrence. The engine groups on
    // md5(window) and rebuilds with an index-aware higher-order filter;
    // the oracle restates the identical semantics with window functions
    // over the materialized (doc, pos, gram) relation — text equality of
    // every rebuilt document is the strongest possible check (it pins
    // tokenization, the keep-first election, overlap union, and the
    // rebuild order all at once).
    QuerySpec.checked("dd9_substring_dedup",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |wins AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i,
        |    unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
        |      i -> array_to_string(w[i:i+7], ' '))) AS gram
        |  FROM toks
        |),
        |marked AS (
        |  SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY gram) AS cnt,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
        |  FROM wins
        |),
        |killed AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest(generate_series(i, i + 7)) AS p
        |    FROM marked WHERE cnt > 1 AND rn > 1)
        |),
        |tokpos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w))) AS p, unnest(w) AS tok
        |  FROM toks
        |)
        |SELECT tp.doc_id,
        |  coalesce(string_agg(tok, ' ' ORDER BY tp.p) FILTER (WHERE k.p IS NULL), '') AS clean_text,
        |  count(k.p) AS n_removed
        |FROM tokpos tp LEFT JOIN killed k ON tp.doc_id = k.doc_id AND tp.p = k.p
        |GROUP BY tp.doc_id
        |ORDER BY tp.doc_id""") { (s, d) =>
      Dedup.dedupSubstrings(t(s, d, "documents"), windowTokens = 8)
        .orderBy("doc_id")
    },

    // Fuzzy string matching: all name pairs within edit distance 1 via
    // FastSS deletion-neighborhood blocking (equi-join on generated
    // keys, shuffle O(Σ len) — never the |S|² pair space) + exact
    // levenshtein verify. The oracle restates the same answer with an
    // independent skeleton: a depth-1 deletion-neighborhood equi-join as
    // the candidate generator — provably complete for ED ≤ 1 (equal
    // strings share the self variant; a substitution at i shares the
    // delete-i variant; an insertion's delete lands on the shorter
    // string itself) — with an exact all-pairs-semantics levenshtein
    // filter on top, so the blocking can only affect speed, never the
    // result. (The naive |S|² restatement is identical — verified at
    // sf0.001/sf0.01/sf0.1 plus adversarial edge cases — but needs
    // ~120 s of single-threaded DuckDB at sf0.1; this form runs in ~1 s,
    // keeping full-corpus parity sweeps tractable.)
    QuerySpec.checked("dd10_editdistance_pairs",
      """WITH vars AS (
        |  SELECT DISTINCT c.c_custkey, c.c_name,
        |    CASE WHEN u.i = 0 THEN c.c_name
        |         ELSE substr(c.c_name, 1, u.i - 1) || substr(c.c_name, u.i + 1) END AS v
        |  FROM customer c
        |  JOIN (SELECT unnest(range(0, (SELECT max(length(c_name)) + 1 FROM customer))) AS i) u
        |    ON u.i <= length(c.c_name)
        |),
        |cand AS (
        |  SELECT DISTINCT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
        |    a.c_name AS name_a, b.c_name AS name_b
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.c_custkey < b.c_custkey
        |)
        |SELECT cust_a, cust_b, name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        |FROM cand
        |WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY cust_a, cust_b""") { (s, d) =>
      graft.pipeline.FuzzyMatch.pairsWithinDistance1(
        t(s, d, "customer"), idCol = "c_custkey", strCol = "c_name")
        .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"),
          col("s_a").as("name_a"), col("s_b").as("name_b"), col("dist"))
        .orderBy("cust_a", "cust_b")
    },

    // INCREMENTAL near-dup — the 100 TB ingest shape: the arriving
    // batch (doc_id % 7 == 3) dedups against a PERSISTED MinHash index
    // of the rest of the corpus (batch-vs-index and batch-vs-batch)
    // without the indexed documents' text being read at all — the probe
    // touches only the compact (id, sig, shset) state.
    QuerySpec.checked("dd11_incremental_neardup", incrementalDedupOracle(3)) {
      (s, d) =>
        Dedup.dedupAgainstIndex(
          t(s, d, "documents").filter(col("doc_id") % 7 === 3),
          ensureMinhashIndex(s, d))
          .orderBy("doc_a", "doc_b")
    },

    // The APPEND path under the same oracle: index built over
    // doc_id % 7 ∉ {3, 5}, batch 3 appended via appendToMinhashIndex,
    // batch 5 probed — a hash-match proves appended documents are
    // first-class index citizens (banding, verification, and the
    // unique-id invariant all hold across the append).
    QuerySpec.checked("dd12_index_append_neardup",
      incrementalDedupOracle(5)) { (s, d) =>
      Dedup.dedupAgainstIndex(
        t(s, d, "documents").filter(col("doc_id") % 7 === 5),
        ensureAppendedMinhashIndex(s, d))
        .orderBy("doc_a", "doc_b")
    },

    // STREAMING ingest dedup with DURABLE index state: the corpus
    // arrives as 4 range-partitioned microbatches; each probes the
    // persisted MinHash index, emits its pairs to a parquet sink,
    // appends itself. The union over batches must equal the FULL
    // corpus pair set — dd3's exhaustive oracle — because every pair's
    // later member finds the earlier one already indexed (or
    // in-batch). Unlike dd8's in-memory LSH state, this survives
    // restarts: state is the same on-disk index dd11/dd12 probe.
    QuerySpec.checked("dd13_streaming_ingest_dedup",
      allPairsDedupOracle("")) { (s, d) =>
      val split = ensureSplitDocs(s, d)
      // fingerprint-keyed scratch (stale corpora reaped like every
      // fixture), WIPED per invocation — the gate must start from an
      // empty index every run, and leave at most one behind
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_mh/" +
        s"${d.replaceAll("[^a-zA-Z0-9.]", "_")}/stream_${corpusFp(d)}"
      graft.Tables.sweepStaleSiblings(new java.io.File(base).getParentFile,
        "stream_", new java.io.File(base).getName)
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete(): Unit
      }
      rmTree(new java.io.File(base))
      val idxDir = s"$base/idx"
      val outDir = s"$base/pairs"
      val schema = s.read.parquet(split).schema
      val q = Dedup.streamingIngestDedup(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(split), idxDir) {
        pairs => pairs.write.mode("append").parquet(outDir)
      }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir).orderBy("doc_a", "doc_b")
    },

    // ── text analysis ────────────────────────────────────────────────────
    QuerySpec.checked("tx1_token_count",
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .orderBy("doc_id")
    },

    QuerySpec.checked("tx2_quality_stats",
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  (length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))) * 1.0
        |    / length(text) AS punct_ratio
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          size(split(col("text"), " ")).as("n_tokens"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio"))
        .orderBy("doc_id")
    },

    // the quality formula is deliberately IEEE-mirrorable (same fold
    // order, same division shapes), so the oracle hash-matches doubles
    QuerySpec.checked("tx3_quality_score",
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS lt,
        |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(lt) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(lt, t -> list_contains(
        |           ['the','a','an','and','or','of','to','in','is','are','was','on','for','with','as','at','by','it'], t))) AS DOUBLE)
        |           / len(lt) END AS stopword_ratio,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(list_reduce(list_transform(toks, t -> CAST(len(t) AS BIGINT)), (a,b) -> a + b) AS DOUBLE)
        |           / len(toks) END AS mean_token_len,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_subwords,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE (length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(text) END AS punct,
        |    least(length(text) / 500.0, 1.0) AS len_score
        |  FROM base
        |)
        |SELECT doc_id,
        |  greatest(0.0, least(1.0, len_score * 0.4 + stopword_ratio * 0.4 + (1.0 - punct) * 0.2)) AS quality,
        |  stopword_ratio, mean_token_len, n_subwords
        |FROM m ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
          TextFunctions.meanTokenLen(col("text")).as("mean_token_len"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // the stopword-argmax heuristic restated as CASE over per-language
    // hit counts (tie order = seed order, CJK codepoint ratio first)
    QuerySpec.checked("tx4_lang_id",
      """WITH base AS (
        |  SELECT doc_id, lang AS labeled_lang, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS lt,
        |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk
        |  FROM documents
        |),
        |sc AS (
        |  SELECT *,
        |    len(list_filter(lt, t -> list_contains(['the','and','of','to','in','is','that','it','was','for'], t))) AS s_en,
        |    len(list_filter(lt, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','sich'], t))) AS s_de,
        |    len(list_filter(lt, t -> list_contains(['el','la','de','que','los','las','una','por','con','para'], t))) AS s_es,
        |    len(list_filter(lt, t -> list_contains(['le','la','et','les','des','une','est','dans','pour','que'], t))) AS s_fr,
        |    len(list_filter(lt, t -> list_contains(['il','la','che','di','non','una','per','sono','con','del'], t))) AS s_it
        |  FROM base
        |)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN cjk * 2 > length(text) THEN 'zh'
        |       WHEN greatest(s_en,s_de,s_es,s_fr,s_it) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'de'
        |       WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'es'
        |       WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_it) THEN 'fr'
        |       ELSE 'it' END AS pred_lang
        |FROM sc ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextFunctions.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    QuerySpec.checked("tx5_fingerprint_md5",
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // custom Catalyst Expression (codegen'd Karp–Rabin rolling hash).
    // The VALUE is wrapping 64-bit arithmetic (not ANSI-restatable);
    // the gate pins its ANSI-stateable laws: one fingerprint per
    // document, no nulls, and determinism — identical text ⇒ identical
    // fingerprint across every duplicate-text group (equi-join, never
    // all-pairs). Hash-level semantics stay pinned by spec.
    QuerySpec.checked("tx6_rolling_fingerprint",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS dup_consistent, true AS no_null_fp
        |FROM documents""") { (s, d) =>
      import s.implicits._
      val fp = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          RollingHash.rolling_hash(col("text"), 16).as("rfp"))
      val base = fp.agg(count(lit(1)),
        count(when(col("rfp").isNull, 1))).head()
      val maxK = fp.groupBy(md5(col("text")))
        .agg(countDistinct(col("rfp")).as("k"))
        .agg(max(col("k"))).head().getLong(0)
      Seq((base.getLong(0), maxK == 1L, base.getLong(1) == 0L))
        .toDF("n_docs", "dup_consistent", "no_null_fp")
    },

    // Gopher-style repetition quality signal: fraction of bigram
    // occurrences that repeat an earlier one in the same document.
    // Map-only (token pass + native shingle kernel); the division is
    // one IEEE op over the same two integers in both engines.
    QuerySpec.checked("tx8_repetition_ratio",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 2 THEN 1 ELSE len(w) - 1 END AS total,
        |    CASE WHEN len(w) < 2 THEN 1
        |         ELSE len(list_distinct(list_transform(generate_series(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1]))) END AS dst
        |  FROM toks
        |)
        |SELECT doc_id, CAST(total - dst AS DOUBLE) / total AS dup_bigram_frac
        |FROM g ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.duplicateShingleFraction(col("text"), 2)
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // Phrase search served from the POSITIONAL kv index: per-term key
    // range probes + an adjacency equi-join on (doc_id, pos − offset) —
    // the corpus text is never read. Same oracle as ir3, which also
    // proves positional-index ≡ token-array scan.
    QuerySpec.checked("ir5_phrase_index",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 2 THEN 0
        |         ELSE len(list_filter(generate_series(1, len(w) - 1),
        |                i -> w[i] = 'table' AND w[i+1] = 'value')) END AS n
        |  FROM toks
        |)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_occ FROM c WHERE n > 0
        |ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Retrieval.phraseSearchIndex(
        s, ensureRetrievalIndex(s, d), Seq("table", "value"))
        .orderBy("doc_id")
    },

    // Gopher-style quality rule set (Rae et al. 2021 §A1.1, the
    // ANSI-mirrorable subset): token-count bounds, mean-word-length
    // bounds, alphabetic-word fraction, stopword evidence, bigram
    // repetition — each flag surfaced plus the conjunctive keep verdict.
    // Map-only column algebra; every division is one IEEE op over
    // integers computed identically on both sides, so the keep booleans
    // (threshold comparisons on those doubles) hash-match exactly.
    QuerySpec.checked("tx9_gopher_filters",
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS lt
        |  FROM documents
        |),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INTEGER) AS n_words,
        |    CASE WHEN len(w) = 0 THEN 0.0
        |         ELSE CAST(list_reduce(list_transform(w, t -> CAST(len(t) AS BIGINT)), (a,b) -> a + b) AS DOUBLE)
        |           / len(w) END AS mean_word_len,
        |    CASE WHEN len(w) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(w, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
        |           / len(w) END AS alpha_frac,
        |    CAST(len(list_filter(lt, t -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','are','was','on','for','with','as','at','by','it'], t))) AS INTEGER) AS stop_hits,
        |    CASE WHEN len(w) < 2 THEN 0.0
        |         ELSE CAST((len(w) - 1) - len(list_distinct(list_transform(
        |                generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
        |           / (len(w) - 1) END AS dup_bigram_frac
        |  FROM base
        |)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits, dup_bigram_frac,
        |  (n_words >= 30 AND n_words <= 100000
        |   AND mean_word_len >= CAST(3.0 AS DOUBLE) AND mean_word_len <= CAST(10.0 AS DOUBLE)
        |   AND alpha_frac > CAST(0.8 AS DOUBLE) AND stop_hits >= 2
        |   AND dup_bigram_frac < CAST(0.9 AS DOUBLE)) AS keep
        |FROM m ORDER BY doc_id""") { (s, d) =>
      val nWords = TextFunctions.tokenCount(col("text"))
      val meanLen = TextFunctions.meanTokenLen(col("text"))
      val alphaFrac = TextFunctions.alphaWordFrac(col("text"))
      val stopHits = TextFunctions.stopwordHits(col("text"))
      val dupBigram = TextFunctions.duplicateShingleFraction(col("text"), 2)
      t(s, d, "documents").select(col("doc_id"),
          nWords.as("n_words"), meanLen.as("mean_word_len"),
          alphaFrac.as("alpha_frac"), stopHits.as("stop_hits"),
          dupBigram.as("dup_bigram_frac"),
          (nWords >= 30 && nWords <= 100000 &&
            meanLen >= 3.0 && meanLen <= 10.0 &&
            alphaFrac > 0.8 && stopHits >= 2 && dupBigram < 0.9).as("keep"))
        .orderBy("doc_id")
    },

    // ── decontamination (train/eval n-gram overlap) ──────────────────────
    // The benchmark side is the doc_id % 20 == 0 slice of the corpus
    // (which contains planted duplicates, so contamination exists by
    // construction); the train side is everything else. The engine
    // overlaps DISTINCT shingle-HASH sets (one-pass native kernel,
    // hash equi-join); the oracle restates with n-gram STRINGS — the
    // same hash≡string equivalence the dd6 Jaccard oracle rests on.
    QuerySpec.checked("dc1_decontam_stats",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    END AS s
        |  FROM toks
        |),
        |tg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 20 <> 0),
        |eg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 20 = 0),
        |ov AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM tg JOIN eg ON tg.gram = eg.gram GROUP BY tg.doc_id)
        |SELECT sh.doc_id, CAST(len(sh.s) AS BIGINT) AS n_grams,
        |  COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  CASE WHEN len(sh.s) = 0 THEN 0.0
        |       ELSE CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / len(sh.s) END
        |    AS overlap_ratio
        |FROM sh LEFT JOIN ov ON sh.doc_id = ov.doc_id
        |WHERE sh.doc_id % 20 <> 0
        |ORDER BY sh.doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      graft.pipeline.Decontaminate.overlapStats(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
        .orderBy("doc_id")
    },

    // the surviving train corpus at maxRatio 0.2 (drop-if-above —
    // quoted benchmark lines in long documents survive, verbatim
    // inclusions are dropped)
    QuerySpec.checked("dc2_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    END AS s
        |  FROM toks
        |),
        |tg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 20 <> 0),
        |eg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 20 = 0),
        |ov AS (SELECT tg.doc_id, count(*) AS n_overlap
        |       FROM tg JOIN eg ON tg.gram = eg.gram GROUP BY tg.doc_id)
        |SELECT sh.doc_id FROM sh LEFT JOIN ov ON sh.doc_id = ov.doc_id
        |WHERE sh.doc_id % 20 <> 0
        |  AND CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / len(sh.s) <= 0.2
        |ORDER BY sh.doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      graft.pipeline.Decontaminate.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), maxRatio = 0.2)
        .select("doc_id").orderBy("doc_id")
    },

    // STREAMING decontamination: the train slice as a REAL bounded file
    // stream filtered ingest-time against the static benchmark gram set
    // — stateless (one broadcast gram array + map-side array_intersect;
    // no state store, no shuffle on the stream side). Same oracle as
    // dc2: the stream must keep exactly the batch survivors.
    QuerySpec.checked("dc3_streaming_decontam",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    END AS s
        |  FROM toks
        |),
        |tg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 20 <> 0),
        |eg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 20 = 0),
        |ov AS (SELECT tg.doc_id, count(*) AS n_overlap
        |       FROM tg JOIN eg ON tg.gram = eg.gram GROUP BY tg.doc_id)
        |SELECT sh.doc_id FROM sh LEFT JOIN ov ON sh.doc_id = ov.doc_id
        |WHERE sh.doc_id % 20 <> 0
        |  AND CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / len(sh.s) <= 0.2
        |ORDER BY sh.doc_id""") { (s, d) =>
      val evalDocs = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 20 === 0)
      streamedDocuments(s, d, "dc3") { stream =>
        graft.pipeline.Decontaminate.decontaminateStream(
          stream.filter(col("doc_id") % 20 =!= 0), evalDocs, maxRatio = 0.2)
          .select("doc_id")
      }.orderBy("doc_id")
    },

    // ── similarity search ────────────────────────────────────────────────
    // Exact brute-force cosine top-k (vs vec_id 0's embedding). The
    // cosine arithmetic is an IEEE-mirrorable left fold (float→double
    // products summed in array order, d / (na*nb)), so the DuckDB
    // restatement via list_reduce hash-matches the doubles exactly.
    QuerySpec.checked("ann1_bruteforce_topk",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(q.qe)),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b)) AS nb
        |  FROM embeddings e, q
        |)
        |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |FROM sc ORDER BY sim DESC, vec_id LIMIT 10""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb, q, k = 10)
    },

    // LSH/IVF probes run against the materialized AnnIndex side table
    // (built once per corpus): signatures/cells are precomputed, so a
    // query is a bucket probe, not an O(N·dim·planes) corpus scan.
    // The probed candidate SET is signature-dependent (not ANSI-
    // expressible) and recall-vs-bruteforce is a property of this
    // near-orthogonal synthetic corpus, not of the operator — so the
    // oracle pins the checkable invariants: k rows, the query vector at
    // rank 1 with sim 1.0, descending order, and every returned sim
    // equal to the independently recomputed exact cosine (an index
    // serving stale or mis-bucketed vectors fails this). Recall on
    // planted near-dups is pinned by SimilaritySpec.
    QuerySpec.checked("ann2_lsh_topk",
      """SELECT CAST(10 AS INTEGER) AS n_returned, true AS self_hit,
        |  true AS sims_descending, true AS sims_exact""") { (s, d) =>
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      // synthetic embeddings are near-orthogonal: widen the multiprobe
      // radius so the candidate set is ~10% of the corpus, not ~0.
      val res = graft.pipeline.AnnIndex.annTopK(s, ensureAnnIndex(s, d, q.length), q,
        k = 10, dim = q.length, probe = 5)
      annInvariants(s, emb, q, res, k = 10)
    },

    QuerySpec.checked("ann4_ivf_topk",
      """SELECT CAST(10 AS INTEGER) AS n_returned, true AS self_hit,
        |  true AS sims_descending, true AS sims_exact""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val res = graft.pipeline.AnnIndex.ivfTopK(s, ensureAnnIndex(s, d, q.length), q,
        k = 10, nProbe = 4)
      annInvariants(s, emb, q, res, k = 10)
    },

    // Quantized IVF probe on the MATERIALIZED index: same cell pruning
    // Index with real DELETIONS (round-12): every vec_id % 7 == 2
    // vector tombstoned via AnnIndex.delete — a dropped/decontaminated
    // document's embedding must stop surfacing as a neighbor. Probing
    // ALL cells makes IVF exact, so the result must hash-match the
    // EXACT cosine top-k over the shrunk corpus (same IEEE-mirrored
    // arithmetic as ann1) — deleted ids absent AND the ranking of the
    // survivors untouched.
    QuerySpec.checked("ann7_ivf_after_delete",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(q.qe)),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b)) AS nb
        |  FROM embeddings e, q
        |  WHERE e.vec_id % 7 <> 2
        |)
        |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |FROM sc ORDER BY sim DESC, vec_id LIMIT 10""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      graft.pipeline.AnnIndex.ivfTopK(s,
        ensureDeletedAnnIndex(s, d, q.length), q, k = 10, nProbe = 16)
        .select(col("vec_id").cast("long").as("vec_id"), col("sim"))
    },

    // Index GROWN by the real append path (ann12): built over
    // vec_id % 7 ≠ 4, batch 4 then added via AnnIndex.append — cell
    // assignment against the frozen centroids, no rebuild. Probing ALL
    // cells makes IVF exact, so the result must hash-match the EXACT
    // cosine top-k over the FULL corpus: appended vectors must surface
    // (they carry cells, signatures, and norms like built ones) and the
    // ranking of the originals must be untouched. Cell-assignment
    // quality of appends (limited-nProbe recall) is pinned by
    // SimilaritySpec's append/drift suite; this gate pins end-to-end
    // first-class citizenship under the driver's oracle.
    QuerySpec.checked("ann12_ivf_after_append",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(q.qe)),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b)) AS nb
        |  FROM embeddings e, q
        |)
        |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |FROM sc ORDER BY sim DESC, vec_id LIMIT 10""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      graft.pipeline.AnnIndex.ivfTopK(s,
        ensureAppendedAnnIndex(s, d, q.length), q, k = 10, nProbe = 16)
        .select(col("vec_id").cast("long").as("vec_id"), col("sim"))
    },

    // STREAMING vector ingest with DURABLE index state (ann13 — the
    // vector counterpart of dd13): the corpus arrives as 4
    // range-partitioned microbatches; the first bootstraps the index
    // (centroids + int8 grid sampled from it), later ones append
    // replay-idempotently, and the drift ledger's growth threshold
    // re-clusters in place mid-stream (~2 rebuilds at this split). An
    // all-cell probe of the final index must hash-match the EXACT
    // cosine top-k over the full corpus — streamed vectors are
    // first-class index citizens regardless of which batch (or which
    // clustering epoch) carried them in.
    QuerySpec.checked("ann13_streaming_ingest",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(q.qe)),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b)) AS nb
        |  FROM embeddings e, q
        |)
        |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |FROM sc ORDER BY sim DESC, vec_id LIMIT 10""") { (s, d) =>
      val split = ensureSplitEmb(s, d)
      // fingerprint-keyed scratch, WIPED per invocation — the gate must
      // start from an empty index every run, and leave at most one behind
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_ann/" +
        s"${d.replaceAll("[^a-zA-Z0-9.]", "_")}" +
        s"/stream_${corpusFp(d, "embeddings")}"
      graft.Tables.sweepStaleSiblings(new java.io.File(base).getParentFile,
        "stream_", new java.io.File(base).getName)
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete(): Unit
      }
      rmTree(new java.io.File(base))
      val idxDir = s"$base/idx"
      val schema = s.read.parquet(split).schema
      val q = graft.pipeline.AnnIndex.streamingIngestAnn(
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(split), idxDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val qv = t(s, d, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      graft.pipeline.AnnIndex.ivfTopK(s, idxDir, qv, k = 10, nProbe = 16)
        .select(col("vec_id").cast("long").as("vec_id"), col("sim"))
    },

    // as ann4, but the probe projects only (id, qvec, vnorm) — parquet
    // column pruning skips the float vectors, ~4× fewer vector bytes
    // per probed cell. Invariants: k rows, self at rank 1 within
    // quantization error, descending, and every sim within 0.02 of the
    // recomputed exact cosine.
    QuerySpec.checked("ann6_quantized_ivf",
      """SELECT CAST(10 AS INTEGER) AS n_returned, true AS self_hit,
        |  true AS sims_descending, true AS sims_close""") { (s, d) =>
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val res = graft.pipeline.AnnIndex.ivfTopKQuantized(
        s, ensureAnnIndex(s, d, q.length), q, k = 10, nProbe = 4)
        .collect()
        .map(r => (r.getAs[Number]("vec_id").longValue(), r.getDouble(1)))
      val qArr = array(q.map(v => lit(v)): _*)
      val xsim = emb
        .filter(col("vec_id").isin(res.map(p => Long.box(p._1)): _*))
        .select(col("vec_id").cast("long"),
          Similarity.cosine(col("embedding"), qArr).as("x"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val selfHit = res.headOption.exists { case (id, sim) =>
        id == 0L && math.abs(sim - 1.0) < 0.01 }
      val sims = res.map(_._2)
      val descending = sims.zip(sims.drop(1)).forall { case (a, b) => a >= b }
      val simsClose = res.forall { case (id, sim) =>
        xsim.get(id).exists(x => math.abs(x - sim) <= 0.02) }
      Seq((res.length, selfHit, descending, simsClose))
        .toDF("n_returned", "self_hit", "sims_descending", "sims_close")
    },

    // int8 scalar-quantized top-k (asymmetric distance): the corpus
    // scans 1 byte/dim instead of 4 — the 100-TB memory/IO claim — and
    // the quantization error (~1/254 per dim against the stored exact
    // norm) must not disturb the ranking. The quantized candidate
    // ordering is representation-dependent (not ANSI-expressible), so
    // the oracle pins the invariants: k rows, the query itself at rank
    // 1 within quantization error, recall@10 ≥ 0.8 vs the exact
    // brute-force top-k, and every returned sim within 0.02 of the
    // independently recomputed exact cosine.
    QuerySpec.checked("ann5_quantized_topk",
      """SELECT CAST(10 AS INTEGER) AS n_returned, true AS self_hit,
        |  true AS recall_ok, true AS sims_close""") { (s, d) =>
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val scales = Similarity.quantizationScales(emb, q.length)
      val res = Similarity.quantizedTopK(
        Similarity.quantize(emb, scales), scales, q, k = 10)
        .collect()
        .map(r => (r.getAs[Number]("vec_id").longValue(), r.getDouble(1)))
      val exactTop = Similarity.bruteForceTopK(emb, q, 10).collect()
        .map(_.getAs[Number]("vec_id").longValue()).toSet
      val qArr = array(q.map(v => lit(v)): _*)
      val xsim = emb
        .filter(col("vec_id").isin(res.map(p => Long.box(p._1)): _*))
        .select(col("vec_id").cast("long"),
          Similarity.cosine(col("embedding"), qArr).as("x"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val selfHit = res.headOption.exists { case (id, sim) =>
        id == 0L && math.abs(sim - 1.0) < 0.01 }
      val recall = res.count(p => exactTop.contains(p._1)).toDouble / 10.0
      val simsClose = res.forall { case (id, sim) =>
        xsim.get(id).exists(x => math.abs(x - sim) <= 0.02) }
      Seq((res.length, selfHit, recall >= 0.8, simsClose))
        .toDF("n_returned", "self_hit", "recall_ok", "sims_close")
    },

    // Embedding near-dup with a FULL oracle: the synthetic corpus has no
    // true near-dups (max pairwise cosine ≈ 0.51), so the gate derives
    // planted twins IN-QUERY — every 5th vector re-enters scaled by
    // exactly 2.0f (power of two: float-exact; direction unchanged, so
    // hyperplane signs are bit-identical and LSH recall on the twin
    // pairs is exactly 1, never probabilistic). The exhaustive all-pairs
    // cosine restatement then matches the engine's LSH+verify output
    // bit-for-bit (same IEEE fold as ann1); non-twin pairs sit far
    // below the 0.95 threshold. Graded nearness recall (cos < 1) stays
    // pinned by SimilaritySpec's seeded test.
    // Oracle cost is NEAR-LINEAR, not all-pairs-× -3-folds (the r14
    // sweep's quadratic-oracle problem): per-vector norms and the first
    // 16 UNIT coordinates compute once (linear), and the pair space
    // passes a PROVABLY LOSSLESS scalar prefilter before any 64-element
    // fold — cos(a,b) ≥ t implies |u−v|² = 2−2cos ≤ 2−2t, and by
    // Parseval the squared distance over ANY coordinate subset is a
    // lower bound, so Σ_{j≤16} (ua_j−ub_j)² > 2−2t (+ε for the
    // filter's own rounding) proves cos < t. Survivors (~1–2% of pairs
    // here) re-verify with the verbatim full-fold expression, so
    // emitted sims stay bit-identical to the unfiltered oracle.
    QuerySpec.checked("ann3_embedding_neardup",
      """WITH uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 5 = 0
        |),
        |un AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x + y)) AS nrm
        |  FROM uni
        |),
        |up AS (
        |  SELECT vec_id, embedding, nrm,
        |    list_transform(generate_series(1, 16),
        |      i -> CAST(embedding[i] AS DOUBLE) / nrm) AS u16
        |  FROM un
        |),
        |sc AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x + y) AS d,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM up a JOIN up b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0 AND
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> (a.u16[i] - b.u16[i]) * (a.u16[i] - b.u16[i])),
        |      (x,y) -> x + y) <= 0.1 + 1e-9
        |)
        |SELECT vec_a, vec_b,
        |  CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |FROM sc
        |WHERE CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END >= 0.95
        |ORDER BY vec_a, vec_b""") { (s, d) =>
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val twins = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Similarity.embeddingNearDupPairs(emb.union(twins), dim = 64,
        threshold = 0.95, nPlanes = 64, bands = 4, probeBits = 1)
        .orderBy("vec_a", "vec_b")
    },

    // SemDeDup (Abbas et al. 2023) end-to-end: embedding near-dup
    // pairs → connected components → one survivor per cluster. Planted
    // structure as in ann3 (float-exact ×2 twins for vec_id % 5 = 0,
    // plus ×4 twins for % 10 = 0, so those originals anchor 3-member
    // colinear CHAINS the closure must collapse); recall on colinear
    // twins is exactly 1 (bit-identical signatures), so the exact
    // oracle — cosine ≥ 0.95 pairs into a recursive-CTE transitive
    // closure, minimum reachable id survives — hash-matches the
    // LSH-pruned engine output, survivors and order included. The
    // pair search uses ann3's provably lossless 16-coordinate Parseval
    // prefilter (see there), so the oracle stays near-linear at every
    // SF instead of all-pairs-times-3-folds quadratic — this was the
    // last rows-only row in the sf0.1 sweep (r14 verdict item 8).
    QuerySpec.checked("ann10_semantic_dedup",
      """WITH RECURSIVE uni AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 4.0 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 10 = 0
        |),
        |un AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x + y)) AS nrm
        |  FROM uni
        |),
        |up AS (
        |  SELECT vec_id, embedding, nrm,
        |    list_transform(generate_series(1, 16),
        |      i -> CAST(embedding[i] AS DOUBLE) / nrm) AS u16
        |  FROM un
        |),
        |sc AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x + y) AS d,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM up a JOIN up b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0 AND
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> (a.u16[i] - b.u16[i]) * (a.u16[i] - b.u16[i])),
        |      (x,y) -> x + y) <= 0.1 + 1e-9
        |),
        |pairs AS (
        |  SELECT va, vb FROM sc
        |  WHERE CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END >= 0.95
        |),
        |edges AS (
        |  SELECT va AS a, vb AS b FROM pairs
        |  UNION SELECT vb, va FROM pairs
        |),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
        |),
        |losers AS (
        |  SELECT id FROM reach GROUP BY id HAVING min(r) <> id
        |)
        |SELECT vec_id FROM uni WHERE vec_id NOT IN (SELECT id FROM losers)
        |ORDER BY vec_id""") { (s, d) =>
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      def twin(mod: Int, shift: Int, scale: Float) =
        emb.filter(col("vec_id") % mod === 0)
          .select((col("vec_id") + shift).as("vec_id"),
            transform(col("embedding"), x => x * lit(scale)).as("embedding"))
      val uni = emb.union(twin(5, 100000, 2.0f)).union(twin(10, 200000, 4.0f))
      Similarity.semanticDedup(uni, dim = 64).orderBy("vec_id")
    },

    // Batch k-NN JOIN, exact baseline: every query vector (vec_id %
    // 100 == 0) gets its top-5 corpus neighbors — the semantic-dedup /
    // hard-negative-mining serving shape. The full ranking is
    // hash-matched against the exhaustive DuckDB restatement (same
    // IEEE-mirrorable cosine fold as ann1, per pair).
    QuerySpec.checked("ann8_knn_join",
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |  WHERE vec_id % 100 = 0
        |),
        |sc AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b) AS d,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,b) -> a + b)) AS na,
        |    sqrt(list_reduce(list_transform(generate_series(1, len(q.qe)),
        |      i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a,b) -> a + b)) AS nb
        |  FROM embeddings e, q
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE d / (na * nb) END AS sim
        |  FROM sc
        |)
        |SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS rk FROM ranked)
        |WHERE rk <= 5 ORDER BY query_id, rk""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.knnJoinBruteForce(
        emb.filter(col("vec_id") % 100 === 0), emb, k = 5)
        .orderBy("query_id", "rk")
    },

    // The same k-NN join over the MATERIALIZED IVF index — cell-local
    // pair space, per-query nProbe cell selection in pure column
    // algebra. The probed candidate set is centroid-dependent (not
    // ANSI-expressible), so the oracle pins the invariants, ann2-style:
    // every query returns exactly k dense-ranked rows, finds ITSELF at
    // rank 1 (the first probed cell is the query's own assignment
    // cell), and every sim equals the independently recomputed exact
    // cosine. Exact-vs-IVF agreement on planted structure is pinned by
    // SimilaritySpec.
    QuerySpec.checked("ann9_knn_join_ivf",
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0)
        |  AS INTEGER) AS n_queries,
        |  true AS all_k, true AS self_rank1, true AS sims_exact""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val dim = emb.select("embedding").head().getSeq[Float](0).length
      val rows = graft.pipeline.AnnIndex.knnJoin(s, ensureAnnIndex(s, d, dim),
        emb.filter(col("vec_id") % 100 === 0), k = 5, nProbe = 8)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("sim"), r.getAs[Int]("rk")))
      // self-similarity within an ulp of 1.0 (see annInvariants); sims
      // bitwise-equal to the recomputed exact cosine (same argument
      // order as the probe), all via the shared checker
      knnJoinInvariants(s, emb, rows, k = 5, selfTol = 1e-9,
        simTol = 0.0, simColName = "sims_exact")
    },

    // Quantized batch k-NN join: the probed cells read (id, qvec,
    // vnorm) only — ~4× fewer vector bytes. ann6's invariant set at
    // batch shape: k dense ranks per query, self at rank 1 within
    // quantization error, every sim within 0.02 of the recomputed
    // exact cosine (one broadcast join, never a rescan).
    QuerySpec.checked("ann11_knn_join_quantized",
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0)
        |  AS INTEGER) AS n_queries,
        |  true AS all_k, true AS self_rank1, true AS sims_close""") { (s, d) =>
      val emb = t(s, d, "embeddings")
      val dim = emb.select("embedding").head().getSeq[Float](0).length
      val rows = graft.pipeline.AnnIndex.knnJoinQuantized(s,
        ensureAnnIndex(s, d, dim),
        emb.filter(col("vec_id") % 100 === 0), k = 5, nProbe = 8)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("sim"), r.getAs[Int]("rk")))
      knnJoinInvariants(s, emb, rows, k = 5, selfTol = 0.01,
        simTol = 0.02, simColName = "sims_close")
    },

    // ── multimodal (REAL image decode via javax.imageio; av stubs) ───────
    // mm1/mm3 run on REAL PNG payloads (syntheticImageTable renders one
    // deterministic image per doc): decoded width/height/pixel means are
    // true codec output, pinned by MultimodalSpec. Round 13 converted
    // all three from rows-only to ORACLE-CHECKED, the round-6 audio
    // treatment: per-MEDIA booleans compare the codec's decoded facts
    // against the declared meta (the synthetic dims are xxhash64-seeded
    // — not DuckDB-derivable — so the invariant, not the constant, is
    // what ANSI states), and the frame sampler's chunk algebra is fully
    // re-derived in SQL.
    QuerySpec.checked("mm1_decode_featurize",
      """SELECT CAST(doc_id AS BIGINT) AS media_id, 'image/png' AS mime,
        |  true AS dims_ok, true AS bytes_ok, true AS px_ok,
        |  CAST(8 AS INTEGER) AS feat_dim
        |FROM documents ORDER BY media_id""") { (s, d) =>
      val imgs = Multimodal.syntheticImageTable(t(s, d, "documents"))
      val meta = imgs.select(col("media_id"),
        col("meta.width").as("ew"), col("meta.height").as("eh"))
      Multimodal.decodeAndFeaturize(imgs).join(meta, "media_id")
        .select(col("media_id"), col("mime"),
          // per-row coalesce: a failed decode (null dims) must read as
          // FALSE in that row, not vanish into null-skipping
          coalesce(col("width") === col("ew") &&
            col("height") === col("eh"), lit(false)).as("dims_ok"),
          (col("n_bytes") > 0).as("bytes_ok"),
          coalesce(col("mean_pixel") >= 0.0 && col("mean_pixel") <= 255.0,
            lit(false)).as("px_ok"),
          size(col("features")).as("feat_dim"))
        .orderBy("media_id")
    },

    // frame sampling is pure chunk algebra over the payload bytes —
    // ANSI re-derives the exact (media, frame_idx, byte-count) rows
    QuerySpec.checked("mm2_frame_sample",
      """WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT media_id, n,
        |    unnest(generate_series(0,
        |      CAST(greatest(ceil(n / 64.0), 1) AS BIGINT) - 1)) AS frame_idx
        |  FROM m)
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(least(64, n - frame_idx * 64) AS INTEGER) AS n_b
        |FROM f WHERE frame_idx % 4 = 0 ORDER BY media_id, frame_idx""") { (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticMediaTable(t(s, d, "documents")))
        .select(col("media_id"), col("frame_idx").cast("int").as("frame_idx"),
          length(col("frame_bytes")).as("n_b"))
        .orderBy("media_id", "frame_idx")
    },

    QuerySpec.checked("mm3_resize",
      """SELECT CAST(doc_id AS BIGINT) AS media_id, true AS dims_ok,
        |  true AS payload_ok FROM documents ORDER BY media_id""") { (s, d) =>
      val imgs = Multimodal.syntheticImageTable(t(s, d, "documents"))
      val meta = imgs.select(col("media_id"),
        col("meta.width").as("ew"), col("meta.height").as("eh"))
      Multimodal.resize(imgs, factor = 2).join(meta, "media_id")
        .select(col("media_id"),
          coalesce(col("width") === greatest(expr("ew div 2"), lit(1L)).cast("int") &&
            col("height") === greatest(expr("eh div 2"), lit(1L)).cast("int"),
            lit(false)).as("dims_ok"),
          (length(col("payload")) > 0).as("payload_ok"))
        .orderBy("media_id")
    },

    // REAL audio decode (javax.sound.sampled): one deterministic WAV per
    // doc, decoded back by the codec. Invariant oracle — the decoded
    // rate and frame count must equal the declared meta for EVERY clip,
    // and RMS must be a valid normalized amplitude; the constants are
    // pinned in SQL, so a decode drift fails the gate, not just a spec.
    QuerySpec.checked("mm4_audio_decode",
      """SELECT CAST(count(*) AS BIGINT) AS n_audio, true AS rates_ok,
        |  true AS frames_ok, true AS rms_ok FROM documents""") { (s, d) =>
      val audio = Multimodal.syntheticAudioTable(t(s, d, "documents"))
      Multimodal.decodeAndFeaturize(audio)
        .join(audio.select(col("media_id"),
          col("meta.sample_rate").as("exp_rate"),
          col("meta.n_frames").as("exp_frames")), "media_id")
        .agg(count(lit(1)).as("n_audio"),
          // per-row coalesce: a clip that failed to decode (null rate)
          // must read as FALSE, not be skipped by min's null handling
          coalesce(min(coalesce(col("sample_rate") === col("exp_rate"),
            lit(false))), lit(false)).as("rates_ok"),
          coalesce(min(coalesce(col("n_samples") === col("exp_frames").cast("long"),
            lit(false))), lit(false)).as("frames_ok"),
          coalesce(min(col("rms").isNotNull && col("rms") >= 0.0 &&
            col("rms") <= 1.0), lit(false)).as("rms_ok"))
    },

    // REAL audio downsample: every output WAV is re-decoded by the
    // codec, so rate = rate/2 and frames = ceil(frames/2) hold as
    // codec-verified facts; a row that fails the round-trip is DROPPED
    // by resampleAudio, which the pinned count catches.
    QuerySpec.checked("mm5_audio_resample",
      """SELECT CAST(count(*) AS BIGINT) AS n_audio, true AS rates_ok,
        |  true AS frames_ok FROM documents""") { (s, d) =>
      val audio = Multimodal.syntheticAudioTable(t(s, d, "documents"))
      Multimodal.resampleAudio(audio, factor = 2)
        .join(audio.select(col("media_id"),
          col("meta.sample_rate").as("orig_rate"),
          col("meta.n_frames").as("orig_frames")), "media_id")
        .agg(count(lit(1)).as("n_audio"),
          coalesce(min(col("sample_rate") === (col("orig_rate") / 2).cast("int")),
            lit(false)).as("rates_ok"),
          coalesce(min(col("n_samples") ===
            ((col("orig_frames") + 1) / 2).cast("long")), lit(false))
            .as("frames_ok"))
    },

    // REAL image decode/resize, oracle-CHECKED like the audio path: the
    // codec-decoded dimensions must equal the declared meta for EVERY
    // rendered PNG, pixel means must be valid, and every resized
    // payload must RE-DECODE to exactly max(dim/2, 1) — constants
    // pinned in SQL so a codec/kernel drift fails the gate.
    QuerySpec.checked("mm6_image_invariants",
      """SELECT CAST(count(*) AS BIGINT) AS n_images, true AS dims_ok,
        |  true AS mean_ok, true AS resize_ok FROM documents""") { (s, d) =>
      val imgs = Multimodal.syntheticImageTable(t(s, d, "documents"))
      val meta = imgs.select(col("media_id"),
        col("meta.width").as("ew"), col("meta.height").as("eh"))
      val decAgg = Multimodal.decodeAndFeaturize(imgs).join(meta, "media_id")
        .agg(count(lit(1)).as("n_images"),
          coalesce(min(coalesce(col("width") === col("ew") &&
            col("height") === col("eh"), lit(false))), lit(false))
            .as("dims_ok"),
          coalesce(min(coalesce(col("mean_pixel") >= 0.0 &&
            col("mean_pixel") <= 255.0, lit(false))), lit(false))
            .as("mean_ok"))
      val resMedia = Multimodal.resize(imgs, factor = 2)
        .select(col("media_id"), col("payload"),
          struct(lit("image/png").as("mime"), col("width"), col("height"),
            lit(1).as("n_frames"),
            lit(null).cast("int").as("sample_rate")).as("meta"))
      val resAgg = Multimodal.decodeAndFeaturize(resMedia).join(meta, "media_id")
        .agg(coalesce(min(coalesce(
          col("width") === greatest(floor(col("ew") / 2), lit(1)).cast("int") &&
          col("height") === greatest(floor(col("eh") / 2), lit(1)).cast("int"),
          lit(false))), lit(false)).as("resize_ok"))
      decAgg.crossJoin(resAgg)
    },

    // BPE-ish subword counting (alnum runs + isolated symbols)
    QuerySpec.checked("tx7_subword_count",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_subwords
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // ── curation: quality selection, mixing, packing ─────────────────────
    QuerySpec.checked("cu1_topk_per_group",
      """SELECT lang, doc_id, n_tokens, rank_in_group FROM (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(len(string_split(text, ' ')) AS INTEGER) DESC, doc_id)
        |      AS INTEGER) AS rank_in_group
        |  FROM documents)
        |WHERE rank_in_group <= 5 ORDER BY lang, rank_in_group""") { (s, d) =>
      graft.pipeline.Curation.topKPerGroup(
        t(s, d, "documents").withColumn("n_tokens",
          TextFunctions.tokenCount(col("text"))),
        groupCol = "lang", scoreCol = "n_tokens", k = 5)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("rank_in_group"))
        .orderBy("lang", "rank_in_group")
    },

    // Per-stratum Bernoulli draws are Spark's RNG (no ANSI restatement
    // of the sampled SET), but the statistical contract IS checkable:
    // exact-fraction strata must keep everything, absent strata nothing,
    // and Bernoulli strata must land within 4σ of n·p (a deterministic
    // verdict — the seed is fixed). The doc-level determinism is pinned
    // by CurationSpec.
    QuerySpec.checked("cu2_stratified_sample",
      """SELECT lang, true AS within_bounds
        |FROM (SELECT DISTINCT lang FROM documents) ORDER BY lang""") { (s, d) =>
      val docs = t(s, d, "documents")
      val fr = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.25)
      val sampled = graft.pipeline.Curation.stratifiedSample(docs,
        stratumCol = "lang", fractions = fr, seed = 42L)
      val p = coalesce(element_at(typedLit(fr), col("lang")), lit(0.0))
      docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .join(sampled.groupBy("lang").agg(count(lit(1)).as("k")),
          Seq("lang"), "left").na.fill(0L, Seq("k"))
        .select(col("lang"),
          when(p === 1.0, col("k") === col("n"))
            .when(p === 0.0, col("k") === 0)
            .otherwise(abs(col("k") - col("n") * p) <=
              lit(4.0) * sqrt(col("n") * p * (lit(1.0) - p)) + 1.0)
            .as("within_bounds"))
        .orderBy("lang")
    },

    // greedy next-fit packing. Since round 14 the assignment is a pure
    // function of the data (group = id mod 32, walk in id order — never
    // the physical partition layout), so the oracle re-derives every
    // (pack_id, pack_seq) with a per-group recursive walk: the CTE
    // carries (used, pack_local, seq) from row rn to rn+1 with exactly
    // the next-fit reset rule, and a hash match pins the full
    // assignment, not just its conservation laws.
    QuerySpec.checked("cu3_sequence_pack",
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> len(t) > 0)) AS INTEGER) AS n_tokens,
        |    doc_id % 32 AS grp,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id)
        |      AS BIGINT) AS rn
        |  FROM documents
        |),
        |walk(grp, rn, doc_id, n_tokens, used, pack_local, seqno) AS (
        |  SELECT grp, rn, doc_id, n_tokens, n_tokens, CAST(0 AS BIGINT), 0
        |  FROM toks WHERE rn = 1
        |  UNION ALL
        |  SELECT t.grp, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN w.used + t.n_tokens > 512
        |         THEN t.n_tokens ELSE w.used + t.n_tokens END,
        |    CASE WHEN w.used + t.n_tokens > 512
        |         THEN w.pack_local + 1 ELSE w.pack_local END,
        |    CASE WHEN w.used + t.n_tokens > 512 THEN 0 ELSE w.seqno + 1 END
        |  FROM walk w JOIN toks t ON t.grp = w.grp AND t.rn = w.rn + 1
        |)
        |SELECT doc_id, n_tokens,
        |  CAST(grp * 4294967296 + pack_local AS BIGINT) AS pack_id,
        |  CAST(seqno AS INTEGER) AS pack_seq
        |FROM walk ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Curation.packSequences(t(s, d, "documents"),
        budgetTokens = 512).toDF().orderBy("doc_id")
    },

    // packing's conservation laws, kept beside the exact cu3 oracle:
    // every doc packed exactly once (counts and token totals match the
    // corpus) and no multi-doc pack over budget
    QuerySpec.checked("cu4_pack_stats",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> len(t) > 0))) AS BIGINT) AS total_tokens,
        |  true AS budget_ok FROM documents""") { (s, d) =>
      graft.pipeline.Curation.packStats(
        graft.pipeline.Curation.packSequences(t(s, d, "documents"),
          budgetTokens = 512), budgetTokens = 512)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("tokens_used")).as("total_tokens"),
          (max(when(col("n_docs") > 1, col("tokens_used")).otherwise(0L)) <= 512)
            .as("budget_ok"))
    },

    // the full curation chain (quality gate → exact dedup → near-dup
    // drop → packing): every stage except the pack-id assignment has an
    // ANSI restatement (the near-dup drop via the exhaustive all-pairs
    // Jaccard + recursive closure), so the oracle checks the surviving
    // doc set and its token counts end-to-end; pack-id/order semantics
    // are pinned by CurationSpec.
    QuerySpec.checked("cu6_corpus_pipeline",
      """WITH RECURSIVE gated AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) >= 10
        |),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM gated GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |),
        |exd AS (SELECT g.* FROM gated g JOIN keepers USING (doc_id)),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(w) - 2),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    END AS s
        |  FROM exd
        |),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(a.s || b.s)) >= 0.8
        |),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
        |),
        |losers AS (
        |  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) <> id
        |)
        |SELECT e.doc_id, CAST(len(e.w) AS INTEGER) AS n_tokens
        |FROM exd e LEFT JOIN losers l ON e.doc_id = l.doc_id
        |WHERE l.doc_id IS NULL
        |ORDER BY e.doc_id""") { (s, d) =>
      graft.pipeline.Curation.curateCorpus(t(s, d, "documents"))
        .toDF().select("doc_id", "n_tokens").orderBy("doc_id")
    },

    // Context-window chunking: long documents become 40-token pieces
    // with an 8-token overlap; trailing starts whose previous chunk
    // already covered the end are dropped (no degenerate suffix
    // chunks). Map-only — stepped starts + token slices, no shuffle.
    QuerySpec.checked("cu8_chunk_docs",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents
        |),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest(list_filter(generate_series(1, len(w), 32),
        |      s -> s = 1 OR s + 8 <= len(w))) AS s
        |  FROM toks
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) AS INTEGER) AS chunk_idx,
        |  array_to_string(w[s:s+39], ' ') AS chunk_text,
        |  CAST(least(40, len(w) - s + 1) AS INTEGER) AS n_tokens
        |FROM st ORDER BY doc_id, chunk_idx""") { (s, d) =>
      graft.pipeline.Curation.chunkDocuments(
        t(s, d, "documents"), chunkTokens = 40, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx")
    },

    // Deterministic epoch shuffle + sharding: reproducible pseudo-random
    // epoch order split into loader-addressable shards. The affine-mod-p
    // shuffle key is pure 64-bit modular arithmetic, so DuckDB
    // re-derives key, shard, AND in-shard position verbatim — the whole
    // permutation is oracle-exact, not just its row count.
    QuerySpec.checked("cu9_epoch_shuffle",
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000000007) * 2654435761 + 7 * 40503) % 1000000007 AS sk
        |  FROM documents)
        |SELECT doc_id, sk AS shuffle_key,
        |  CAST(sk % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY sk % 8 ORDER BY sk, doc_id)
        |    AS BIGINT) - 1 AS pos_in_shard
        |FROM h ORDER BY doc_id""") { (s, d) =>
      graft.pipeline.Curation.epochShuffle(
        t(s, d, "documents"), nShards = 8, seed = 7L)
        .select("doc_id", "shuffle_key", "shard", "pos_in_shard")
        .orderBy("doc_id")
    },

    // Leakage-safe train/eval split: every near-dup CLUSTER lands whole
    // on one side of the boundary (an eval near-dup of a training doc
    // is contamination). The oracle re-derives the full assignment:
    // exhaustive trigram-Jaccard pairs at the LSH threshold (the dd3
    // restatement), recursive closure to min-id cluster labels, then
    // the affine-mod-p bucket — pure integer arithmetic end to end, so
    // the hash match pins cluster AND side for every document.
    QuerySpec.checked("cu10_leakage_safe_split",
      jaccardPairOracle(3, "0.7", recursive = true) +
        raw""",
             |edges AS (
             |  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= 0.7
             |  UNION SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.7
             |),
             |reach(id, r) AS (
             |  SELECT a, a FROM edges
             |  UNION
             |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
             |),
             |lbl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
             |asg AS (
             |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
             |),
             |bkt AS (
             |  SELECT doc_id, cluster_id,
             |    ((cluster_id % 1000000007) * 2654435761 + 11 * 40503)
             |      % 1000000007 % 100 AS bk
             |  FROM asg
             |)
             |SELECT doc_id, cluster_id, CAST(bk AS INTEGER) AS split_bucket,
             |  CASE WHEN bk < 80 THEN 'train' ELSE 'eval' END AS split
             |FROM bkt ORDER BY doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashNearDuplicates(docs, k = 64, bands = 16)
      graft.pipeline.Curation.splitByCluster(docs, pairs,
        trainPct = 80, seed = 11L)
        .select(col("doc_id"), col("cluster_id"), col("split_bucket"),
          col("split"))
        .orderBy("doc_id")
    },

    // Target-mixture resampling: re-balance sources to spec proportions
    // with the largest downsample-only plan — the binding stratum (the
    // one the target stretches furthest) keeps EVERYTHING (an exact,
    // deterministic check), others land within 4σ of n·f (deterministic
    // verdict — fixed seed). Doc-level determinism pinned by
    // CurationSpec; the corpus is uniform 25 docs/source, so src0 at
    // weight 0.5 binds with fractions (1.0, 0.6, 0.4).
    QuerySpec.checked("cu7_mixture_resample",
      """SELECT source, true AS within_bounds
        |FROM (SELECT DISTINCT source FROM documents
        |      WHERE source IN ('src0','src1','src2'))
        |ORDER BY source""") { (s, d) =>
      val docs = t(s, d, "documents")
      val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val fr = graft.pipeline.Curation.mixtureFractions(docs, "source", weights)
      val sampled = graft.pipeline.Curation.mixtureResample(
        docs, "source", weights, seed = 42L)
      val p = coalesce(element_at(typedLit(fr), col("source")), lit(0.0))
      docs.filter(col("source").isin(weights.keys.toSeq: _*))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .join(sampled.groupBy("source").agg(count(lit(1)).as("k")),
          Seq("source"), "left").na.fill(0L, Seq("k"))
        .select(col("source"),
          when(p === 1.0, col("k") === col("n"))
            .otherwise(abs(col("k") - col("n") * p) <=
              lit(4.0) * sqrt(col("n") * p * (lit(1.0) - p)) + 1.0)
            .as("within_bounds"))
        .orderBy("source")
    },

    // Vocabulary induction: the corpus-frequency top-k over BPE-ish
    // subword units (the first step of tokenizer training) — one
    // explode + one count shuffle, top-k via global sort of #vocab
    // rows, never the token stream.
    QuerySpec.checked("tx10_vocab_topk",
      """SELECT tok AS term, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY freq DESC, term LIMIT 20""") { (s, d) =>
      t(s, d, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("term")).limit(20)
    },

    // Corpus-statistical rarity scoring (the unigram-LM quality proxy,
    // transcendental-free): every token joins its corpus frequency and
    // a doc scores the sum of 1e6 div f — INTEGER division, so the
    // arithmetic is exact on both engines (a double 1/f summed through
    // a decimal cast would tie-break differently at exact .5 ulps, e.g.
    // f=128). n_rare counts hapax/dis legomena. Two shuffles total
    // (frequency groupBy + the term join); the frequency side is the
    // vocabulary, honestly shuffle-joined — at 100 TB it need not fit
    // in a broadcast.
    QuerySpec.checked("tx11_rarity_score",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE length(text) > 0),
        |freq AS (SELECT term, count(*) AS f FROM tok GROUP BY term)
        |SELECT tok.doc_id, count(*) AS n_tok,
        |  CAST(sum(1000000 // freq.f) AS BIGINT) AS rarity_ppm,
        |  count(CASE WHEN freq.f <= 2 THEN 1 END) AS n_rare
        |FROM tok JOIN freq USING (term)
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""") { (s, d) =>
      val tok = t(s, d, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val freq = tok.groupBy("term").agg(count(lit(1)).as("f"))
      tok.join(freq, "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(expr("1000000 div f")).as("rarity_ppm"),
          count(when(col("f") <= 2, 1)).as("n_rare"))
        .orderBy("doc_id")
    },

    // PII-style scrub before training: identical regex chain replayed by
    // the oracle (Java∩RE2-safe patterns)
    QuerySpec.checked("cu5_redact_pii",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      'https?://[^\s]+', '[URL]', 'g'),
        |    '[0-9]{6,}', '[NUM]', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.redactPii(col("text")).as("clean_text"))
        .orderBy("doc_id")
    },

    // JSON column access (events.props is a JSON string)
    QuerySpec.checked("ev3_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""") { (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    },

    // ── events: windowed aggregation (batch form of the streaming op) ────
    QuerySpec.checked("ev1_tumbling_window",
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          graft.QuerySpec.dsum(col("value")).as("sum_value"))
        .orderBy("ws", "event_type")
    },

    // session windows have a plain ANSI restatement (gaps-and-islands:
    // a session break is a gap >= 10 min, sessions are the running sum
    // of breaks), so the engine-specific operator gets a real oracle
    QuerySpec.checked("ev2_session_window",
      """SELECT user_id, ws, we, cnt FROM (
        |  SELECT user_id, min(t) AS ws, max(t) + INTERVAL 10 MINUTE AS we,
        |    count(*) AS cnt
        |  FROM (
        |    SELECT user_id, t,
        |      sum(CASE WHEN prev_t IS NULL
        |               OR t - prev_t >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY t
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |    FROM (
        |      SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |        lag(CAST(ts AS TIMESTAMP))
        |          OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
        |      FROM events))
        |  GROUP BY user_id, sid
        |) ORDER BY user_id, ws""") { (s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("w.start").as("ws"), col("w.end").as("we"), col("cnt"))
        .orderBy("user_id", "ws")
    },

    // sliding windows (1 h window, 15 min slide — each event lands in
    // exactly 4 epoch-aligned windows): the oracle restates the overlap
    // by fanning every event out over k ∈ 0..3 slide offsets from its
    // 15-minute bucket, the ANSI equivalent of Spark's window(ts, 1h,
    // 15m) expansion; sums route through DECIMAL(38,6) as usual
    QuerySpec.checked("ev4_sliding_window",
      """SELECT ws, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
        |           - to_minutes(15 * k) AS ws, value
        |  FROM events, (SELECT unnest(range(4)) AS k) reps)
        |GROUP BY ws ORDER BY ws""") { (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes")
          .getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"),
          graft.QuerySpec.dsum(col("value")).as("sum_value"))
        .orderBy("ws")
    }
  )
}
