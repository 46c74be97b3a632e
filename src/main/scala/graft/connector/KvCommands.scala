package graft.connector

import graft.io.SidecarFs
import graft.store.SegmentFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** DDL/DML command surface over graftkv tables — the Spark-native
  * restatement of the reference's parser-level commands
  * (/root/reference src/main/scala/.../execution/hbaseCommands.scala):
  * CREATE (O1) → createTable, DROP (O2) → dropTable, INSERT SELECT (O7)
  * → append, LOAD DATA (O8) → bulkLoadCsv, SHOW/DESCRIBE (O4/O5) →
  * describe. Each is a thin declarative wrapper: the heavy lifting
  * (range shuffle + sort + segment write) is the connector's
  * RequiresDistributionAndOrdering write path.
  */
object KvCommands {

  /** O1: CREATE TABLE ... (+ initial data). The key columns are the
    * composite primary key, in order; `encoding` picks the per-table
    * codec (binary | stringformat, reference DDL `IN stringformat`).
    * Onto an existing table (same key and encoding) it is an overwrite:
    * one commit replaces everything live, and the previous version
    * stays a retained snapshot. */
  def createTable(df: DataFrame, path: String, keys: Seq[String],
      encoding: String = graft.store.RowCodec.Binary,
      zorder: Seq[graft.codec.ZDim] = Nil,
      maxSegBytes: Option[Long] = None,
      compress: Option[String] = None): Unit =
    overwrite(df, path, keys, encoding, zorder, maxSegBytes, compress)

  /** The overwrite write; with `replace` it is conditional — it replaces
    * exactly those files, changing the key layout if the table's
    * differs, and aborts with a GraftKvRewriteConflict unless they are
    * the whole live set at its commit. */
  private def overwrite(df: DataFrame, path: String, keys: Seq[String],
      encoding: String, zorder: Seq[graft.codec.ZDim],
      maxSegBytes: Option[Long], compress: Option[String],
      replace: Option[Set[String]] = None): Unit = {
    val w = df.write.format("graftkv")
      .option("key", keys.mkString(","))
      .option("encoding", encoding)
      .mode("overwrite")
    if (zorder.nonEmpty) w.option("zorder", graft.codec.ZDim.serialize(zorder))
    maxSegBytes.foreach(b => w.option("segment.maxBytes", b.toString))
    compress.foreach(c => w.option(GraftKvMeta.SegmentCompressProp, c))
    replace.foreach(r => w.option("replace", r.mkString(",")))
    w.save(path)
  }

  /** O7: INSERT INTO t SELECT ... (append new sorted segments). On a
    * z-clustered table the `_z` lead is derived here with the table's
    * persisted dim normalization, so callers append the logical schema
    * and clustering stays an implementation detail. */
  def append(df: DataFrame, path: String): Unit = {
    val df2 = GraftKvMeta.read(path) match {
      case Some(m) if m.zorder.nonEmpty && !df.columns.contains("_z") =>
        df.withColumn("_z", graft.functions.ZValue.forDims(
          m.zorder, m.zorder.map(d => df(d.name))))
      case _ => df
    }
    df2.write.format("graftkv").mode("append").save(path)
  }

  /** O1 variant: CREATE a z-clustered table. The physical composite key
    * is `(_z, dims…)` where `_z` is the dims' Morton interleave
    * (graft.codec.ZOrder) — the bulk load range-shuffles on `_z`, so
    * segments tile the z-curve and a box predicate over the dims prunes
    * to the segments whose z-span intersects the box's quadtree cover.
    * The trailing dims keep physical keys exactly as unique as the
    * logical key, so Put/upsert semantics are unchanged.
    *
    * One cheap extra aggregate over the input fixes each dim's
    * (minCode, shift) normalization for the TABLE'S LIFETIME — codes
    * use the observed value range at full per-dim resolution; later
    * appends outside the range clamp consistently on the write and
    * query sides (clustering degrades, correctness holds). */
  def createZOrderTable(df: DataFrame, path: String, dims: Seq[String],
      encoding: String = graft.store.RowCodec.Binary,
      maxSegBytes: Option[Long] = None,
      compress: Option[String] = None): Unit = {
    val (withZ, zdims) = zOrdered(df, dims)
    createTable(withZ, path, "_z" +: dims, encoding, zdims, maxSegBytes, compress)
  }

  /** `df` with its `_z` lead derived over `dims`, and the dims' specs. */
  private def zOrdered(df: DataFrame, dims: Seq[String])
      : (DataFrame, Seq[graft.codec.ZDim]) = {
    require(dims.length >= 2, "z-order clustering wants >= 2 dimensions")
    import org.apache.spark.sql.functions.{max, min}
    import graft.codec.{ZDim, ZOrder}
    val bits = ZOrder.bitsPerDim(dims.length)
    val aggs = dims.flatMap(d => Seq(min(d), max(d)))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val zdims = dims.zipWithIndex.map { case (d, i) =>
      val dt = df.schema(d).dataType
      val (lo, hi) = (stats.get(2 * i), stats.get(2 * i + 1))
      if (lo == null || hi == null) ZDim.legacy(d, bits)
      else {
        val loC = ZOrder.dimCode(dt, graft.pruning.TriEval.normalize(dt, lo))
        val hiC = ZOrder.dimCode(dt, graft.pruning.TriEval.normalize(dt, hi))
        ZDim(d, loC, ZOrder.shiftFor(hiC - loC, bits)) // unsigned diff: hi >= lo
      }
    }
    (df.withColumn("_z", graft.functions.ZValue.forDims(zdims, dims.map(df(_)))),
      zdims)
  }

  /** Read back (the relation itself). */
  def table(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graftkv").load(path)

  /** Re-cluster an EXISTING table z-ordered by `dims` (the
    * `OPTIMIZE t ZORDER BY (…)` statement): one write of the table's
    * rows, with `_z` derived as [[createZOrderTable]] does, straight
    * into the table directory through the range-shuffled sorted write
    * (the data never round-trips the driver). Its commit is an
    * overwrite that replaces exactly the live set the conversion read
    * and carries the new key layout in its header. Returns the row count
    * of the converted table.
    *
    * SEMANTICS CHANGE, deliberately loud: the physical key becomes
    * `(_z, dims…)`, so Put-upsert identity follows the dims — exactly
    * what CREATE-time z-clustering declares. Secondary indexes and
    * materialized views key on the old layout and must be dropped
    * first (the call refuses otherwise). Older snapshots keep their own
    * declaration, so VERSION AS OF and RESTORE across the re-clustering
    * read the old layout.
    *
    * Crash safety: the commit is the one manifest CAS. A failure before
    * it leaves the old table (Spark's abort deletes the written
    * segments; a crash strands only unmanifested files, which VACUUM
    * reclaims); after it the table is converted — nothing is left to
    * repair. A concurrent commit between the read and the CAS aborts
    * the conversion instead of silently dropping the concurrent
    * writer's rows. */
  def convertToZOrder(spark: SparkSession, path: String,
      dims: Seq[String]): Long = {
    val (v, read, m) = (for {
      (v, read) <- SegmentFile.readHead(path)
      m <- GraftKvMeta.decode(read.header)
    } yield (v, read, m)).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    dims.foreach(d => require(m.schema.fieldNames.contains(d),
      s"no column '$d' to z-order by"))
    require(KvIndex.list(path).isEmpty && KvMatView.list(path).isEmpty,
      "re-clustering changes the key layout: drop secondary indexes and " +
        "materialized views first")
    relayout(tableAsOf(spark, path, v), path, dims, m.encoding, read.files)
  }

  /** The conversion's write: `src` (the table as of the version whose
    * live set is `read`) re-keyed by `dims`, committed only if `read` is
    * still the whole live set. */
  private[connector] def relayout(src: DataFrame, path: String,
      dims: Seq[String], encoding: String, read: Set[String]): Long = {
    val (withZ, zdims) =
      zOrdered(if (src.columns.contains("_z")) src.drop("_z") else src, dims)
    try overwrite(withZ, path, "_z" +: dims, encoding, zdims, None, None,
      replace = Some(read))
    catch {
      case _: GraftKvRewriteConflict => throw new IllegalStateException(
        s"concurrent commit on $path during z-order conversion; aborted")
    }
    KvIndex.invalidate(path)
    SegmentFile.listSegments(path).map(_.count).sum
  }

  /** Pruning evidence for a kv query, as a relation: one row per kv
    * scan in the plan — live segments, segments actually read (key +
    * zone pruning), statically planned partitions, runtime-filtered
    * partitions (NULL when no runtime filter re-planned the scan), and
    * the pushed-filter summary. The Spark-UI custom metrics report the
    * same numbers per query; this is the programmatic form for
    * notebooks/ops. Call it on the SAME Dataset an action already ran
    * on — runtime-filter state lives in the executed plan's scan
    * instances, and a derived Dataset (e.g. `.count()`) re-plans. */
  def pruningReport(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[GraftKvScan] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case b: BatchScanExec =>
          b.scan match { case s: GraftKvScan => Seq(s); case _ => Seq.empty }
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    }
    val spark = df.sparkSession
    import spark.implicits._
    scans(df.queryExecution.executedPlan).map(_.pruningEvidence)
      .toDF("table_path", "segments_live", "segments_read",
        "partitions_static", "partitions_runtime", "pushed_filters")
  }

  /** O8: LOAD DATA INPATH — CSV with an explicit schema goes through the
    * same range-shuffle + sort + segment pipeline as any insert. */
  def bulkLoadCsv(spark: SparkSession, csvPath: String, schemaDdl: String,
      path: String, keys: Seq[String], delimiter: String = ","): Unit = {
    val df = spark.read
      .option("delimiter", delimiter)
      .schema(schemaDdl)
      .csv(csvPath)
    createTable(df, path, keys)
  }

  /** DELETE FROM t WHERE cond (Scala API; SQL DELETE routes through
    * GraftKvTable.deleteWhere): matching keys get tombstone records at
    * the next generation — a distributed scan + sorted key-only append,
    * never a table rewrite. Readers suppress tombstoned keys;
    * compaction erases them physically. */
  def delete(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column): Unit = {
    val m = GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    table(spark, path).filter(cond)
      .select(m.keys.map(org.apache.spark.sql.functions.col): _*)
      .write.format("graftkv").option("tombstone", "true")
      .mode("append").save(path)
  }

  /** O2: DROP TABLE (logical+physical here — no catalog indirection). */
  def dropTable(path: String): Unit = {
    SidecarFs.list(path)
      .filter(n => n.endsWith(".kv") || n.endsWith(".kvmeta") ||
        n == "_graft_vhead" || // durable head-version hint dies too
        n.startsWith("_graft_segments.v") || // snapshot manifests: a
        // recreated table must not inherit the dead table's history
        n.startsWith("_graft_stats.v") || // packed planning stats die too
        n.startsWith("_graft_ndv.v") || // NDV sketch packs die too
        n.startsWith("_graft_qs.v") || // quantile-summary packs die too
        SidecarFs.isTempArtifact(n) || // crash-stranded atomic-write temps
        n.startsWith("._graft_epoch-") || // streaming markers die with the table
        // Hadoop local-FS checksum shadows of the control files above
        // (a recreated table must not trip over a dead table's crc)
        (n.startsWith("._graft") && n.endsWith(".crc")))
      .foreach(n => SidecarFs.deleteIfExists(SidecarFs.child(path, n)))
    // secondary indexes and materialized views die with their table
    val idx = SidecarFs.child(path, "_index")
    if (SidecarFs.isDirectory(idx)) SidecarFs.deleteRecursively(idx)
    val mv = SidecarFs.child(path, "_mv")
    if (SidecarFs.isDirectory(mv)) SidecarFs.deleteRecursively(mv)
    KvIndex.invalidate(path)
    // the dir itself goes only when nothing else (user files) remains
    SidecarFs.deleteQuiet(path)
  }

  /** O5: DESCRIBE — one row per column: (name, type, KEY order / NONKEY),
    * plus per-segment region info if requested. */
  def describe(spark: SparkSession, path: String): DataFrame = {
    val KvTableMeta(schema, keys, _, _, _) = GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    import scala.jdk.CollectionConverters._
    val rows = schema.fields.map { f =>
      val ki = keys.indexOf(f.name)
      Row(f.name, f.dataType.simpleString,
        if (ki >= 0) s"KEY($ki)" else "NONKEY")
    }.toSeq.asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("role", org.apache.spark.sql.types.StringType))))
  }

  /** Region (segment) inventory: file, rows, bytes — SHOW-style metadata. */
  def segments(path: String): Seq[(String, Long, Long)] =
    SegmentFile.listSegments(path).map(m => (m.file, m.count, m.sizeBytes))

  /** Major compaction: appends create key-overlapping segments (pruning
    * still correct, but a point lookup may touch several runs);
    * rewriting the whole live set through the ordered write path
    * restores disjoint sorted segments without superseded versions or
    * tombstones — the major-compaction analog of an LSM/region store.
    * It commits through the one manifest CAS every write uses
    * ([[rewrite]]): a commit landing meanwhile survives it, and a
    * concurrent rewrite of the same segments fails it with an
    * IllegalStateException, publishing nothing. Replaced segments stay
    * on disk for the retention window, so the pre-compaction snapshot
    * stays readable. `maxSegBytes` sizes this rewrite's segments only. */
  def compact(spark: SparkSession, path: String,
      maxSegBytes: Option[Long] = None): Unit = {
    GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    val live = SegmentFile.readManifest(path).getOrElse(Set.empty[String])
    if (!rewrite(spark, path, live, maxSegBytes))
      throw new IllegalStateException(
        s"concurrent rewrite of $path during major compaction; aborted")
    sweepUnmanifested(path, RetainReplacedMs)
  }

  /** How long compaction and overwrites keep the segments they replaced
    * on disk. */
  private[connector] val RetainReplacedMs = 600000L

  /** Rewrite the live segments `files` of `path` into fresh sorted ones:
    * a read restricted to those files, appended with the internal
    * `replace` option, so the output keeps their max generation and the
    * commit swaps exactly them — concurrent appends ride along. False
    * when a concurrent commit replaced one of them first (merging would
    * resurrect its rows as duplicates): nothing was published. */
  private def rewrite(spark: SparkSession, path: String, files: Set[String],
      maxSegBytes: Option[Long] = None): Boolean = {
    val names = files.mkString(",")
    val w = spark.read.format("graftkv").option("files", names).load(path)
      .write.format("graftkv").option("replace", names).mode("append")
    maxSegBytes.foreach(b => w.option("segment.maxBytes", b.toString))
    try { w.save(path); true }
    catch { case _: GraftKvRewriteConflict => false }
  }

  /** Read amplification of a point lookup: the largest number of live
    * segments any single key can fall into (1 = fully disjoint). Sweep
    * over segments ordered by min key with a heap of active max keys —
    * metadata only, no data read. */
  def overlapDepth(path: String): Int = {
    val m = GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    val cmp = graft.store.RowCodec(m.schema, m.keys, m.encoding).compareKeys _
    val segs = SegmentFile.listSegments(path)
    if (segs.isEmpty) 0
    else {
      val sorted = segs.sortWith((a, b) => cmp(a.minKey, b.minKey) < 0)
      val active = scala.collection.mutable.PriorityQueue.empty[Array[Byte]](
        Ordering.fromLessThan[Array[Byte]]((a, b) => cmp(a, b) > 0)) // min-heap
      var depth = 0
      sorted.foreach { s =>
        while (active.nonEmpty && cmp(active.head, s.minKey) < 0) active.dequeue()
        active.enqueue(s.maxKey)
        depth = math.max(depth, active.size)
      }
      depth
    }
  }

  /** Minor compaction: rewrite ONLY groups of key-overlapping segments
    * (an LSM/region store's compaction-by-region, not a full-table
    * rewrite — at 100 TB the table never rewrites whole). Each connected
    * component of the segment-overlap graph with ≥ `minGroup` members is
    * rewritten in place by [[rewrite]] into fresh disjoint segments,
    * swapped into the manifest by the one commit CAS; disjoint segments
    * are never touched. A group a concurrent compactor already replaced
    * is skipped. A crash mid-compaction leaves only orphan files the
    * manifest excludes — readers never see duplicates.
    *
    * Replaced segments are NOT deleted at the swap: they stay on disk
    * (invisible — the manifest excludes them) for `retainReplacedMs`,
    * so a scan PLANNED against the pre-compaction manifest keeps
    * reading its files — the snapshot-retention window of a manifest
    * table format. The sweep at the end of each compaction deletes any
    * unmanifested segment file older than the window, which also
    * reclaims crash orphans. Returns the number of segments rewritten. */
  def compactMinor(spark: SparkSession, path: String, minGroup: Int = 2,
      retainReplacedMs: Long = RetainReplacedMs): Int = {
    val m = GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    val cmp = graft.store.RowCodec(m.schema, m.keys, m.encoding).compareKeys _
    val sorted = SegmentFile.listSegments(path)
      .sortWith((a, b) => cmp(a.minKey, b.minKey) < 0)
    // connected components over composite-key ranges: a component's
    // union is one contiguous interval, so "group max so far" suffices
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[SegmentFile.Meta]]
    var groupMax: Array[Byte] = null
    sorted.foreach { s =>
      if (groupMax != null && cmp(s.minKey, groupMax) <= 0) {
        groups(groups.length - 1) = groups.last :+ s
        if (cmp(s.maxKey, groupMax) > 0) groupMax = s.maxKey
      } else {
        groups += Vector(s)
        groupMax = s.maxKey
      }
    }
    val rewritten = groups.filter(_.size >= math.max(minGroup, 2))
      .filter(g => rewrite(spark, path, g.map(_.file).toSet))
      .map(_.size).sum
    if (rewritten > 0) sweepUnmanifested(path, retainReplacedMs)
    rewritten
  }

  /** Delete unmanifested segment files (replaced by compaction, or
    * stranded by a crashed writer) older than `olderThanMs`. Bounded by
    * the manifest contract: anything not listed is invisible to every
    * reader planned after the swap, and the age guard keeps files alive
    * for scans planned before it. Returns the number of segment files
    * reclaimed (the SQL VACUUM statement's report). */
  def sweepUnmanifested(path: String, olderThanMs: Long): Int = {
    // ONE listing serves every step below: expired versions (including
    // one stranded below a gap, which the head-down probe cannot see),
    // unmanifested segments, epoch markers and temp artifacts. It is
    // taken BEFORE the manifest is read, so a listed segment whose commit
    // has published by then counts as live; a commit still in flight is
    // shielded only by the age cutoff.
    val names = SidecarFs.list(path)
    SegmentFile.readManifest(path).map { current =>
      val cutoff = System.currentTimeMillis() - olderThanMs
      def aged(n: String) = SidecarFs.mtime(SidecarFs.child(path, n)) <= cutoff
      // Expired snapshot manifests go FIRST: past the window a VERSION
      // AS OF read fails with "no snapshot" instead of "missing segment
      // files". Then everything a RETAINED snapshot still lists is live
      // — time travel within the window must never observe a swept file,
      // however old the segment's own mtime is (a segment predates every
      // snapshot that lists it, and RESTORE can relist arbitrarily old
      // ones), so liveness is manifest-driven and the mtime cutoff only
      // shields files from readers that hold NO manifest reference
      // (in-flight scans planned before a swap).
      val retained = SegmentFile.pruneManifestVersions(path, cutoff,
        SegmentFile.versionsIn(names))
      val live: Set[String] = current ++ retained.flatMap(v =>
        SegmentFile.readManifestVersion(path, v).getOrElse(Set.empty[String]))
      val swept = names.filter(n => n.endsWith(".kv") && !live.contains(n) && aged(n))
      swept.foreach { n =>
        SidecarFs.deleteIfExists(SidecarFs.child(path, n))
        SidecarFs.deleteIfExists(
          SidecarFs.child(path, n.stripSuffix(".kv") + ".kvmeta"))
      }
      // stale streaming-epoch markers: a crashed writeIntent strands a
      // .tmp forever, and markers of abandoned checkpoints (dead query
      // ids) accumulate — the per-commit trailing delete only covers
      // the live query. Sweep aged ones, but KEEP each query's newest
      // non-tmp marker regardless of age: an idle-then-restarted stream
      // still needs it to recognize its last epoch as committed.
      val markers = names.filter(_.startsWith("._graft_epoch-"))
      // name = ._graft_epoch-<queryId>-<epochId>.<intent|done>; queryId
      // is a UUID (contains dashes) — epochId is the LAST dash token
      def parse(n: String): Option[(String, Long)] = {
        val stem = n.stripPrefix("._graft_epoch-")
          .stripSuffix(".intent").stripSuffix(".done")
        val cut = stem.lastIndexOf('-')
        if (cut < 0) None
        else stem.drop(cut + 1).toLongOption.map(e => (stem.take(cut), e))
      }
      val keep: Set[String] = markers.filterNot(_.endsWith(".tmp"))
        .flatMap(n => parse(n).map { case (q, e) => (q, e, n) })
        .groupBy(_._1).values.flatMap(_.maxByOption(_._2).map(_._3)).toSet
      markers.filterNot(keep.contains).filter(aged)
        .foreach(n => SidecarFs.deleteIfExists(SidecarFs.child(path, n)))
      // temp files stranded by a crash between write and the
      // finally-delete in any SidecarFs atomic primitive (manifest CAS,
      // stats/ndv/qs swaps, epoch markers, the head hint): nothing else
      // reclaims them, so they'd accumulate until DROP TABLE. One
      // shared recognizer — a hand-kept prefix list here silently
      // missed `_graft_segments.v<N>` CAS temps and the double-dotted
      // temps of already-dotted marker names. The age cutoff protects
      // in-flight temps of live concurrent writers.
      names.filter(n => SidecarFs.isTempArtifact(n) && aged(n))
        .foreach(n => SidecarFs.deleteIfExists(SidecarFs.child(path, n)))
      swept.length
    }.getOrElse(0)
  }

  /** Retained snapshot versions (newest = the current table state). */
  def snapshots(path: String): Seq[Long] = SegmentFile.manifestVersions(path)

  /** Roll the table back to a retained snapshot: publish that
    * snapshot's manifest — its declaration and its segment set — as a
    * NEW commit (history moves forward — the rolled-back-over commits
    * stay retained and readable until the sweep, so a restore is itself
    * undoable). Segments are immutable and still on disk within the
    * retention window, so this is a metadata-only operation at any
    * table size. */
  def restoreTable(path: String, version: Long): Unit = {
    val snap = snapshot(path, version)
    val missing =
      snap.files.filterNot(f => SidecarFs.exists(SidecarFs.child(path, f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot $version references swept segments: " +
        missing.toSeq.sorted.mkString(", "))
    SegmentFile.commitManifest(path)(_ => Some(snap))
    ()
  }

  private def snapshot(path: String, version: Long): SegmentFile.Manifest =
    SegmentFile.readVersion(path, version).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot version $version at $path " +
          s"(retained: ${SegmentFile.manifestVersions(path).mkString(", ")})"))

  /** ZERO-COPY clone: a new independent table over the same immutable
    * segment files (hard links — same inodes, separate directory
    * entries), optionally as of a retained snapshot version. Segments
    * are write-once, so the tables share bytes safely: each side's
    * compaction/vacuum touches only its own directory entries, and
    * the filesystem reclaims an inode when the LAST table's sweep
    * unlinks it. The corpus-freezing primitive for training pipelines:
    * naming a 100 TB snapshot costs metadata, not a copy. Falls back
    * to file copies when linking is impossible (cross-device). */
  def cloneTable(src: String, dst: String,
      version: Option[Long] = None): Unit = {
    val snap = version.map(snapshot(src, _))
      .orElse(SegmentFile.readHead(src).map(_._2))
      .filter(s => GraftKvMeta.decode(s.header).nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"no graftkv table at $src"))
    def exists = new IllegalArgumentException(s"clone target $dst already exists")
    if (GraftKvMeta.read(dst).isDefined) throw exists
    SidecarFs.mkdirs(dst)
    def share(name: String): Unit =
      SidecarFs.shareOrCopy(SidecarFs.child(src, name),
        SidecarFs.child(dst, name))
    snap.files.foreach { f =>
      share(f)
      share(f.stripSuffix(".kv") + ".kvmeta")
    }
    if (!SegmentFile.createManifest(dst, snap)) throw exists
  }

  /** Time travel via the path API: the table as of snapshot `version`
    * (the catalog equivalent is `SELECT … FROM graft.db.t VERSION AS OF n`). */
  def tableAsOf(spark: SparkSession, path: String, version: Long): DataFrame =
    spark.read.format("graftkv")
      .option("snapshot.version", version.toString).load(path)

  /** UPDATE t SET col = expr, … WHERE cond: scan the matching rows,
    * apply the assignments, and re-append — Put-upsert semantics make
    * the appended rows replace the stored versions, so an update is a
    * pruned scan plus a sorted append of ONLY the touched rows, never a
    * table rewrite (the same storage story as [[delete]]'s tombstones).
    * Key columns cannot be assigned: a key change is semantically a
    * delete + insert, which the caller must state explicitly. */
  def update(spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Unit = {
    val m = GraftKvMeta.read(path).getOrElse(
      throw new IllegalArgumentException(s"no graftkv table at $path"))
    val badKeys = set.keySet.intersect(m.keys.toSet)
    require(badKeys.isEmpty,
      s"cannot assign key columns ${badKeys.mkString(", ")}: " +
        "delete and re-insert to move a row")
    val unknown = set.keySet.diff(m.schema.fieldNames.toSet)
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    // ONE projection evaluates every assignment against the OLD row —
    // SQL UPDATE semantics: SET a = b, b = a swaps, independent of
    // assignment order. (The cast is exactness vs the declared type;
    // under Spark 4's default ANSI mode a lossy value errors loudly.)
    val updated = table(spark, path).filter(cond).select(
      m.schema.fieldNames.map { c =>
        set.get(c)
          .map(_.cast(m.schema(c).dataType).as(c))
          .getOrElse(org.apache.spark.sql.functions.col(c))
      }.toSeq: _*)
    updated.write.format("graftkv").mode("append").save(path)
  }

  /** Change-data diff between two retained snapshots: one row per key
    * whose visible row differs between versions `fromV` and `toV`,
    * tagged 'added' / 'removed' / 'updated' (the old_ and new_ columns
    * carry both sides' values). Both sides are ordinary pruned snapshot
    * scans, each decoded with its own snapshot's declaration; the
    * diff is ONE full-outer join on the primary key — each side
    * shuffles once on the key it is already sorted by, so the operator
    * scales with the table, never with its commit history. The value
    * columns are those of either snapshot: a column one side lacks
    * (ALTER TABLE ADD or DROP COLUMN in between) reads NULL there, and
    * one whose type changed compares by its string form. */
  def snapshotDiff(spark: SparkSession, path: String,
      fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val from = GraftKvMeta.readAsOf(path, Some(fromV)).get
    val to = GraftKvMeta.readAsOf(path, Some(toV)).get
    val keys = to.keys
    require(keys.forall(from.schema.fieldNames.contains),
      s"snapshots $fromV and $toV of $path have different key columns")
    def typeIn(m: KvTableMeta, c: String) =
      m.schema.find(_.name == c).map(_.dataType)
    val vals = (to.schema.fieldNames ++ from.schema.fieldNames).distinct
      .filterNot(keys.contains).toSeq
    // internal columns are __-prefixed so a user value column named
    // e.g. "present" can't collide with the marker flags
    def side(v: Long, m: KvTableMeta, other: KvTableMeta, tag: String) =
      tableAsOf(spark, path, v).select(keys.map(col) ++ vals.map(c =>
        (if (typeIn(m, c).isDefined) col(c)
         else lit(null).cast(typeIn(other, c).get)).as(s"${tag}_$c")) :+
        lit(true).as(s"__${tag}_present"): _*)
    val j = side(fromV, from, to, "old")
      .join(side(toV, to, from, "new"), keys, "full_outer")
    // null-safe: a value flipping to/from NULL is still a change
    val valueChanged = vals.map { c =>
      val (o, n) = (col(s"old_$c"), col(s"new_$c"))
      if (typeIn(from, c).forall(t => typeIn(to, c).forall(_ == t))) !(o <=> n)
      else !(o.cast("string") <=> n.cast("string"))
    }.reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn("__change",
        when(col("__old_present").isNull, "added")
          .when(col("__new_present").isNull, "removed")
          .when(valueChanged, "updated")) // unchanged rows get NULL…
      .where(col("__change").isNotNull)   // …and are dropped here
      .select(keys.map(col) ++ Seq(col("__change").as("change")) ++
        vals.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Auto-compaction policy for streamed/appended tables: compact only
    * when a point lookup could touch more than `maxDepth` overlapping
    * segments. The check is metadata-only, so calling this after every
    * append batch is cheap; the rewrite, when it fires, touches only the
    * overlapping groups. Returns true if a compaction ran. */
  def autoCompact(spark: SparkSession, path: String, maxDepth: Int = 4): Boolean =
    overlapDepth(path) > maxDepth && compactMinor(spark, path) > 0
}
