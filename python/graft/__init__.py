"""Python client for the graft engine — the analog of the reference's
python package (/root/reference python/pyspark_hbase/sql/context.py,
which wraps HBaseSQLContext for PySpark users).

The engine itself is pure Scala; this shim only wires a PySpark session
to it (catalog + SQL extensions + classpath) and exposes the handful of
operations the reference's Python surface offered: DDL/DML via SQL,
bulk load, and table reads. Everything else is plain PySpark on the
returned session.

Usage:
    from graft import GraftSession
    spark = GraftSession.build(catalog_root="/data/graft",
                               classes="/path/to/graft/classes-or-jar")
    spark.sql("CREATE TABLE graft.db.t (k BIGINT, v STRING) "
              "TBLPROPERTIES('key'='k')")
    spark.sql("INSERT INTO graft.db.t VALUES (1, 'a')")
    spark.sql("DELETE FROM graft.db.t WHERE k = 1")
"""

from pyspark.sql import SparkSession


class GraftSession:
    """Builder for a SparkSession wired to the graft engine."""

    @staticmethod
    def build(catalog_root, classes=None, app_name="graft",
              master="local[*]", shuffle_partitions=32):
        """Return a SparkSession with the graft catalog mounted at
        `catalog_root` and the graft SQL extensions (LOAD DATA statement,
        native functions) installed.

        classes: directory or jar holding the compiled graft engine; it
        is appended to the driver/executor classpath. Omit when the
        engine is already on the session classpath (e.g. spark-submit
        --jars).
        """
        b = (SparkSession.builder
             .appName(app_name)
             .master(master)
             .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
             .config("spark.sql.extensions", "graft.sql.GraftExtensions")
             .config("spark.sql.catalog.graft",
                     "graft.connector.GraftKvCatalog")
             .config("spark.sql.catalog.graft.root", catalog_root)
             # storage-partitioned plans (shuffle-free GROUP BY / SPJ on
             # the kv key prefix) — same settings the Scala entry uses
             .config("spark.sql.sources.v2.bucketing.enabled", "true")
             .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
                     "false"))
        if classes:
            b = (b.config("spark.driver.extraClassPath", classes)
                  .config("spark.executor.extraClassPath", classes))
        return b.getOrCreate()

    # -- convenience wrappers over the SQL surface ----------------------

    @staticmethod
    def create_table(spark, name, columns_ddl, key):
        """CREATE TABLE graft.<name>(<columns_ddl>) with the composite
        primary key `key` (comma-separated column list)."""
        spark.sql("CREATE TABLE %s (%s) TBLPROPERTIES('key'='%s')"
                  % (name, columns_ddl, key))

    @staticmethod
    def load_csv(spark, path, table, delimiter=",", overwrite=False):
        """LOAD DATA INPATH — the reference's bulk-load statement."""
        spark.sql("LOAD DATA INPATH '%s' %sINTO TABLE %s "
                  "FIELDS TERMINATED BY '%s'"
                  % (path, "OVERWRITE " if overwrite else "", table, delimiter))

    @staticmethod
    def table(spark, name):
        return spark.table(name)

    @staticmethod
    def table_as_of(spark, name, version):
        """Time travel: the catalog table as of snapshot `version`
        (one snapshot per commit; see SegmentFile.commitManifest)."""
        return spark.sql("SELECT * FROM %s VERSION AS OF %d" % (name, version))

    @staticmethod
    def update(spark, table, set_clause, where):
        """SQL UPDATE via the DSv2 row-level delta path: only the
        changed rows are written (upserts + tombstones), never a table
        rewrite."""
        spark.sql("UPDATE %s SET %s WHERE %s" % (table, set_clause, where))

    @staticmethod
    def delete(spark, table, where):
        """SQL DELETE: translatable predicates tombstone via the
        metadata path; subquery conditions route through the row-level
        delta plan."""
        spark.sql("DELETE FROM %s WHERE %s" % (table, where))

    @staticmethod
    def merge(spark, target, source_view, on, clauses):
        """MERGE INTO target USING source_view ON <on> <clauses>, e.g.
        clauses='WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
        INSERT *'."""
        spark.sql("MERGE INTO %s AS t USING %s AS s ON %s %s"
                  % (target, source_view, on, clauses))

    @staticmethod
    def show_snapshots(spark, table):
        """The table's retained commit log (one snapshot per commit)."""
        return spark.sql("SHOW SNAPSHOTS FOR %s" % table)

    @staticmethod
    def create_index(spark, table, index, columns):
        """Secondary index on `columns` (stock Spark CREATE INDEX via
        SupportsIndex). Query rewrite engages automatically while the
        index is in sync with the table's manifest version."""
        spark.sql("CREATE INDEX %s ON TABLE %s (%s)"
                  % (index, table, ", ".join(columns)))

    @staticmethod
    def refresh_index(spark, table, index):
        """Advance the index to the table's current snapshot (CDC-
        incremental; falls back to a rebuild when history was
        compacted away). Returns the new base version."""
        return spark.sql("REFRESH INDEX %s ON %s"
                         % (index, table)).head()[0]

    @staticmethod
    def show_indexes(spark, table):
        """(index_name, columns, base_version, in_sync, entries)."""
        return spark.sql("SHOW INDEXES FOR %s" % table)

    @staticmethod
    def drop_index(spark, table, index):
        spark.sql("DROP INDEX %s ON %s" % (index, table))

    @staticmethod
    def create_materialized_view(spark, table, view, group_cols,
                                 sum_cols=(), minmax_cols=()):
        """Incrementally-maintained COUNT/SUM/MIN/MAX aggregate over
        `table` (sums are integral-only: Long arithmetic keeps the
        maintained value bit-identical to a full recompute; min/max
        accept any ordered atomic type — they select stored values)."""
        sums = " SUM (%s)" % ", ".join(sum_cols) if sum_cols else ""
        mms = " MINMAX (%s)" % ", ".join(minmax_cols) if minmax_cols else ""
        spark.sql("CREATE MATERIALIZED VIEW %s ON TABLE %s GROUP BY %s%s%s"
                  % (view, table, ", ".join(group_cols), sums, mms))

    @staticmethod
    def refresh_materialized_view(spark, table, view):
        """Fold the CDC delta since the view's watermark; returns the
        new base version."""
        return spark.sql("REFRESH MATERIALIZED VIEW %s ON %s"
                         % (view, table)).head()[0]

    @staticmethod
    def show_materialized_views(spark, table):
        return spark.sql("SHOW MATERIALIZED VIEWS FOR %s" % table)

    @staticmethod
    def drop_materialized_view(spark, table, view):
        spark.sql("DROP MATERIALIZED VIEW %s ON %s" % (view, table))

    @staticmethod
    def analyze(spark, table, columns=()):
        """ANALYZE TABLE — metadata-only statistics (rows/bytes, NDV
        estimates, bounds, exact null counts). A NULL cell means the
        metadata cannot claim it; never a wrong number."""
        cols = " FOR COLUMNS %s" % ", ".join(columns) if columns else ""
        return spark.sql("ANALYZE TABLE %s COMPUTE STATISTICS%s"
                         % (table, cols))

    @staticmethod
    def columns_stats(spark, table):
        """The `t.columns` metadata table: per-column statistics as a
        queryable relation — NDV estimate, exact null count, zone-map
        bounds, and p25/p50/p75 quartiles from the V11 quantile
        summaries. Composes with the whole SQL surface (joins,
        filters, aggregates)."""
        return spark.sql("SELECT * FROM %s.columns" % table)

    @staticmethod
    def resample_forward_fill(df, every="1 hour", trunc_unit="hour",
                              key_col="user_id", ts_col="ts",
                              val_col="value"):
        """Time-series gap-fill: one row per `every` tick on each key's
        own lattice, carrying the most recent observation at-or-before
        the tick (NULL before the first)."""
        from pyspark.sql import DataFrame
        jdf = df.sparkSession._jvm.graft.operators.TemporalJoins \
            .resampleForwardFill(df._jdf, every, trunc_unit,
                                 key_col, ts_col, val_col)
        return DataFrame(jdf, df.sparkSession)

    @staticmethod
    def optimize(spark, table, zorder_by=()):
        """OPTIMIZE — plain form runs MAJOR compaction; zorder_by
        re-clusters the table by those dimensions (the physical key
        becomes the Morton interleave; drop indexes/views first).
        Returns (action, rows)."""
        z = " ZORDER BY (%s)" % ", ".join(zorder_by) if zorder_by else ""
        return spark.sql("OPTIMIZE %s%s" % (table, z)).collect()[0]

    @staticmethod
    def describe_detail(spark, table):
        """One-row table-health summary: layout (keys/codec/z-dims),
        physical totals, overlap depth (point-lookup read
        amplification), history, and derived-artifact counts.
        live_rows is NULL whenever the metadata cannot claim it."""
        return spark.sql("DESCRIBE DETAIL %s" % table)

    @staticmethod
    def pruning_report(df):
        """Pruning evidence for a kv query, as a DataFrame: one row per
        kv scan — live segments, segments read, static/runtime
        partition counts, pushed filters. Call on the SAME DataFrame an
        action already ran on (runtime-filter state lives in its
        executed plan)."""
        from pyspark.sql import DataFrame
        jdf = df.sparkSession._jvm.graft.connector.KvCommands \
            .pruningReport(df._jdf)
        return DataFrame(jdf, df.sparkSession)

    @staticmethod
    def search(spark, table, query, k=10, using=None):
        """SQL SEARCH statement: `SEARCH t FOR 'terms' [USING col]
        [TOP k]` — BM25 ranking over any table/view with a doc_id
        column and a text column. The SEARCH term literal has no escape
        form (terms are whitespace-separated words), so quotes and odd
        identifiers are rejected HERE with a clear error instead of
        surfacing as an opaque parse failure on the SEARCH keyword."""
        import re
        if "'" in query:
            raise ValueError("search(): query must not contain single "
                             "quotes — terms are whitespace-separated "
                             "words")
        if not re.fullmatch(r"[\w.`]+", table):
            raise ValueError("search(): invalid table identifier %r"
                             % (table,))
        if using is not None and not re.fullmatch(r"[\w`]+", using):
            raise ValueError("search(): invalid column identifier %r"
                             % (using,))
        u = " USING %s" % using if using else ""
        return spark.sql("SEARCH %s FOR '%s'%s TOP %d"
                         % (table, query, u, int(k)))

    @staticmethod
    def bm25_top_k(docs, query_terms, k=10):
        """BM25 top-k over a (doc_id, text) DataFrame for a list of query
        terms — rational-idf scoring, query tokens filtered before the
        shuffle, df/corpus stats broadcast. Returns (doc_id, score,
        n_terms) ranked by score desc then doc_id."""
        from pyspark.sql import DataFrame
        jdf = docs.sparkSession._jvm.graft.pipeline.Retrieval \
            .bm25TopKJ(docs._jdf, list(query_terms), int(k))
        return DataFrame(jdf, docs.sparkSession)

    @staticmethod
    def phrase_counts(docs, phrase_terms):
        """Exact phrase-occurrence counts per document (map-only, zero
        shuffle): rows (doc_id, n_occ) for documents containing the
        token phrase at least once; overlaps count individually."""
        from pyspark.sql import DataFrame
        jdf = docs.sparkSession._jvm.graft.pipeline.Retrieval \
            .phraseCountsJ(docs._jdf, list(phrase_terms))
        return DataFrame(jdf, docs.sparkSession)

    @staticmethod
    def text_index_build(docs, path):
        """Materialize the inverted index (postings/positions/doclen/
        docterms kv tables + corpus stats) for a (doc_id, text)
        DataFrame at `path`."""
        docs.sparkSession._jvm.graft.pipeline.Retrieval \
            .buildIndexJ(docs._jdf, path)

    @staticmethod
    def text_index_append(docs, path):
        """Incrementally index new or MODIFIED documents (stale
        postings/positions of re-ingested doc_ids are tombstoned)."""
        docs.sparkSession._jvm.graft.pipeline.Retrieval \
            .appendToIndexJ(path, docs._jdf)

    @staticmethod
    def text_index_delete(spark, path, doc_ids):
        """Remove documents from the index entirely: df/avgdl shrink
        with the corpus, phrase adjacency dies with the doc."""
        spark._jvm.graft.pipeline.Retrieval.deleteIdsFromIndexJ(
            spark._jsparkSession, path, [int(i) for i in doc_ids])

    @staticmethod
    def text_index_search(spark, path, query_terms, k=10):
        """BM25 top-k served from the materialized index (|query| key
        ranges; the corpus text is never read) — bit-identical to
        bm25_top_k over the indexed corpus."""
        from pyspark.sql import DataFrame
        jdf = spark._jvm.graft.pipeline.Retrieval.bm25SearchIndexJ(
            spark._jsparkSession, path, list(query_terms), int(k))
        return DataFrame(jdf, spark)

    @staticmethod
    def text_index_phrase(spark, path, phrase_terms):
        """Exact phrase search from the positional index: (doc_id,
        n_occ) rows, occurrences > 0 only."""
        from pyspark.sql import DataFrame
        jdf = spark._jvm.graft.pipeline.Retrieval.phraseSearchIndexJ(
            spark._jsparkSession, path, list(phrase_terms))
        return DataFrame(jdf, spark)

    @staticmethod
    def ann_delete_ids(spark, path, vec_ids):
        """Tombstone vectors in a materialized ANN index: every probe
        excludes them; rebuild folds them away physically."""
        spark._jvm.graft.pipeline.AnnIndex.deleteIdsJ(
            spark._jsparkSession, path, [int(i) for i in vec_ids])

    @staticmethod
    def knn_join(queries, corpus, k=10, vec_col="embedding",
                 id_col="vec_id"):
        """Exact batch k-NN join: every query row's top-k corpus rows by
        cosine (query batch broadcast; corpus never shuffled). Returns
        (query_id, neighbor_id, sim, rk)."""
        from pyspark.sql import DataFrame
        jdf = queries.sparkSession._jvm.graft.pipeline.Similarity \
            .knnJoinBruteForce(queries._jdf, corpus._jdf, int(k),
                               vec_col, id_col)
        return DataFrame(jdf, queries.sparkSession)

    @staticmethod
    def ann_knn_join(spark, path, queries, k=10, n_probe=4,
                     vec_col="embedding", id_col="vec_id"):
        """Batch k-NN join over a materialized ANN index: each query
        probes only its n_probe nearest centroid cells (cell-local pair
        space, tombstones excluded)."""
        from pyspark.sql import DataFrame
        jdf = spark._jvm.graft.pipeline.AnnIndex.knnJoin(
            spark._jsparkSession, path, queries._jdf, int(k),
            int(n_probe), vec_col, id_col)
        return DataFrame(jdf, spark)

    @staticmethod
    def ann_knn_join_quantized(spark, path, queries, k=10, n_probe=4,
                               vec_col="embedding", id_col="vec_id"):
        """Quantized batch k-NN join over a materialized ANN index: the
        probed cells read (id, int8 qvec, norm) only — ~4x fewer vector
        bytes; ranking within int8 error of the exact join."""
        from pyspark.sql import DataFrame
        jdf = spark._jvm.graft.pipeline.AnnIndex.knnJoinQuantized(
            spark._jsparkSession, path, queries._jdf, int(k),
            int(n_probe), vec_col, id_col)
        return DataFrame(jdf, spark)

    @staticmethod
    def semantic_dedup(embeddings, dim, threshold=0.95, n_planes=64,
                       bands=4, probe_bits=1, vec_col="embedding",
                       id_col="vec_id"):
        """SemDeDup: ids that survive embedding-space near-dup
        clustering (banded-LSH pairs at cosine >= threshold, connected
        components, min id per cluster survives). Semi-join your corpus
        against the result."""
        from pyspark.sql import DataFrame
        jdf = embeddings.sparkSession._jvm.graft.pipeline.Similarity \
            .semanticDedup(embeddings._jdf, int(dim), float(threshold),
                           int(n_planes), int(bands), int(probe_bits),
                           vec_col, id_col)
        return DataFrame(jdf, embeddings.sparkSession)

    @staticmethod
    def minhash_index_build(docs, path, k=64, shingle=3,
                            text_col="text", id_col="doc_id"):
        """Materialize a reusable MinHash index (id, shingle-hash set,
        signature) for a document DataFrame at `path` — the persisted
        state incremental ingest dedup probes against."""
        docs.sparkSession._jvm.graft.pipeline.Dedup.buildMinhashIndex(
            docs._jdf, path, int(k), int(shingle), text_col, id_col)

    @staticmethod
    def minhash_index_append(docs, path, text_col="text",
                             id_col="doc_id"):
        """Append a batch's MinHash state to an existing index; ids
        already present are skipped, so replays are no-ops."""
        docs.sparkSession._jvm.graft.pipeline.Dedup.appendToMinhashIndex(
            docs._jdf, path, text_col, id_col)

    @staticmethod
    def minhash_index_probe(batch, path, bands=16, threshold=0.7,
                            text_col="text", id_col="doc_id"):
        """Near-dup pairs a NEW batch introduces against the indexed
        corpus (batch-vs-index and batch-vs-batch), exact-Jaccard
        verified — the indexed documents' text is never read. Returns
        (doc_a, doc_b, jaccard) with doc_a < doc_b."""
        from pyspark.sql import DataFrame
        jdf = batch.sparkSession._jvm.graft.pipeline.Dedup \
            .dedupAgainstIndex(batch._jdf, path, int(bands),
                               float(threshold), text_col, id_col)
        return DataFrame(jdf, batch.sparkSession)

    @staticmethod
    def minhash_index_compact(spark, path, target_rows_per_file=1 << 22):
        """Rewrite a long-ingested MinHash index's accumulated
        per-batch files into sorted runs (probe latency follows the
        file count); probe pairs are identical before/after. Returns
        (files_before, files_after)."""
        t = spark._jvm.graft.pipeline.Dedup.compactMinhashIndex(
            spark._jsparkSession, path, int(target_rows_per_file))
        return (t._1(), t._2())

    @staticmethod
    def ann_index_compact(spark, path, target_rows_per_file=1 << 22,
                          id_col="vec_id"):
        """Rewrite a long-ingested ANN index's accumulated per-append
        files to ~1 file per cell (probe latency follows the file
        count) WITHOUT re-clustering — centroids, scales, drift ledger
        and tombstones carry over; probes are bit-identical
        before/after. Returns (files_before, files_after)."""
        t = spark._jvm.graft.pipeline.AnnIndex.compactAnnIndex(
            spark._jsparkSession, path, int(target_rows_per_file), id_col)
        return (t._1(), t._2())

    @staticmethod
    def fuzzy_pairs(df, id_col, str_col):
        """All (id_a < id_b) row pairs whose `str_col` values are within
        Levenshtein distance 1 — FastSS deletion-key blocking (never
        all-pairs) + exact verify. Returns (id_a, id_b, s_a, s_b,
        dist)."""
        from pyspark.sql import DataFrame
        jdf = df.sparkSession._jvm.graft.pipeline.FuzzyMatch \
            .pairsWithinDistance1(df._jdf, id_col, str_col)
        return DataFrame(jdf, df.sparkSession)

    @staticmethod
    def split_by_cluster(docs, pairs, train_pct, seed=0, id_col="doc_id"):
        """Leakage-safe train/eval split: near-dup CLUSTERS (connected
        components over `pairs`) are assigned to a side wholesale, so
        two near-duplicate documents can never straddle the boundary.
        `pairs` is any (doc_a, doc_b) near-dup pair set (e.g. from
        minhash_index_probe or the LSH pipeline). Adds `cluster_id`,
        `split_bucket`, and `split` ('train'/'eval') columns; the
        assignment is a pure hash of (cluster_id, seed) — reproducible
        at any parallelism."""
        from pyspark.sql import DataFrame
        jdf = docs.sparkSession._jvm.graft.pipeline.Curation \
            .splitByCluster(docs._jdf, pairs._jdf, int(train_pct),
                            int(seed), id_col)
        return DataFrame(jdf, docs.sparkSession)

    @staticmethod
    def ann_streaming_ingest(vectors, path, checkpoint, n_planes=16,
                             n_centroids=16, max_growth=1.0,
                             max_cos_erosion=0.05, max_grid_erosion=0.05,
                             vec_col="embedding", id_col="vec_id"):
        """Start streaming vector ingest into a DURABLE ANN index at
        `path`: the first non-empty microbatch bootstraps (clusters +
        quantization scales), later batches append with per-batch id
        dedup, and the index re-clusters in place when the drift ledger
        crosses the growth/erosion thresholds. Replay-idempotent via
        the stored-id anti-join, checkpointed at `checkpoint`. Returns
        the live pyspark StreamingQuery (call .stop() to end)."""
        from pyspark.sql.streaming import StreamingQuery
        jq = vectors.sparkSession._jvm.graft.pipeline.AnnIndex \
            .streamingIngestAnnStart(
                vectors._jdf, path, checkpoint, int(n_planes),
                int(n_centroids), float(max_growth), float(max_cos_erosion),
                float(max_grid_erosion), vec_col, id_col)
        return StreamingQuery(jq)

    @staticmethod
    def read_stream(spark, path, max_files_per_trigger=None):
        """Change feed of the kv table at `path`: the initial snapshot,
        then every committed upsert; deletes emit nothing. Offsets are
        commit generations, so compaction never re-emits."""
        r = spark.readStream.format("graftkv")
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.load(path)
