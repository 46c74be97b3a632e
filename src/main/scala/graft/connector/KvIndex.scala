package graft.connector

import graft.store.SegmentFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One secondary index: `cols` are the indexed value columns (the
  * index table's leading key dimensions), `baseVersion` the base-table
  * snapshot the index reflects exactly, `dataVersion` the INDEX
  * table's own manifest version when the meta was published — any
  * later append to the index table (a fenced-out zombie's late write)
  * bumps it and the index self-invalidates out of planning. -1 marks
  * a legacy (pre-fencing) meta: trusted, refreshed on next use. */
final case class KvIndexDef(name: String, cols: Seq[String],
    baseVersion: Long, dataVersion: Long = -1L)

/** Secondary indexes over graftkv tables (the Phoenix-style global
  * index restated for this engine — the reference itself has none; this
  * is extension scope like streaming and time travel).
  *
  * An index on `t(c)` is an ordinary graftkv table under
  * `t/_index/<name>` keyed `(c, pk...)` — sorted by the indexed value,
  * so an equality/range predicate on `c` becomes a leading-key seek on
  * the index — plus a WATERMARK: the base manifest version the index
  * was derived from. The correctness protocol is version-gated, not
  * write-hooked:
  *
  *  - Writers never touch indexes. Any base commit simply advances the
  *    base manifest version past the watermark, which makes every
  *    index on the table invisible to the query rewrite (KvIndexRule
  *    checks `inSync` at plan time — an O(1) version probe against the
  *    cached manifest head) unless the new version lists the
  *    watermark's files, as a header-only ALTER TABLE does. A stale
  *    index can therefore never lose or resurrect a row; it just stops
  *    accelerating until refreshed.
  *  - REFRESH is INCREMENTAL: the change set between the watermark and
  *    the current version comes from the snapshot-diff CDC operator
  *    (one key-join of two retained snapshots — scales with the delta,
  *    never with history), applied as ordinary index-table appends
  *    (tombstones for outdated entries, puts for new ones). A fresh
  *    index costs one base scan; keeping it fresh costs one diff per
  *    refresh.
  *  - Rows whose indexed column is NULL are simply absent from the
  *    index: every predicate the rewrite accepts is null-rejecting, so
  *    their absence is exact, and NULLs never hit the key codec's
  *    non-null contract.
  *
  * At 100 TB the payoff is the standard one: a selective predicate on
  * a non-key column stops scanning the fact table — the index seek
  * yields the matching primary keys, and the base scan prunes to just
  * their segments/ranges through the existing runtime-IN machinery
  * (SupportsRuntimeV2Filtering, the same path star joins use). */
object KvIndex {

  private val NamePat = "[A-Za-z0-9_]+"

  def indexRoot(base: String): String = s"$base/_index"
  def indexPath(base: String, name: String): String = s"${indexRoot(base)}/$name"
  private val MetaName = "_graft_index"

  private def metaContent(cols: Seq[String], v: Long, dataV: Long): String =
    cols.mkString(",") + "\n" + v + "\n" + dataV

  private def parseMeta(name: String, content: String): Option[KvIndexDef] = {
    val lines = content.split('\n')
    if (lines.length < 2) return None
    val dataV =
      if (lines.length >= 3) lines(2).trim.toLongOption.getOrElse(-1L)
      else -1L
    for (v <- lines(1).trim.toLongOption)
      yield KvIndexDef(name, lines(0).split(',').map(_.trim).toSeq, v, dataV)
  }

  /** Fenced meta publish: wins only while the CURRENT meta still names
    * `expectBaseVersion` as its watermark (None = creating) — the CAS
    * that makes a zombie's stale publish lose deterministically (see
    * KvMaintenance's fenced-publish section). */
  private def publishIndexMeta(idxPath: String, cols: Seq[String], v: Long,
      expectBaseVersion: Option[Long]): Boolean = {
    val dataV = SegmentFile.currentVersion(idxPath).getOrElse(-1L)
    KvMaintenance.casPublishMeta(idxPath, MetaName,
      metaContent(cols, v, dataV)) { cur =>
      (cur.flatMap(parseMeta("_", _)).map(_.baseVersion), expectBaseVersion) match {
        case (None, None) => true // creating a fresh index
        case (Some(curV), Some(expV)) => curV == expV
        case _ => false
      }
    }
  }

  private def readIndexMeta(idxPath: String, name: String): Option[KvIndexDef] =
    KvMaintenance.readVersionedMeta(idxPath, MetaName)
      .flatMap(parseMeta(name, _))

  /** All indexes of `base` (empty for the common no-index table after
    * one directory-existence check — plan-time cost is negligible). */
  def list(base: String): Seq[KvIndexDef] = {
    import graft.io.SidecarFs
    val root = indexRoot(base)
    if (!SidecarFs.isDirectory(root)) return Nil
    SidecarFs.list(root)
      .filter(n => SidecarFs.isDirectory(SidecarFs.child(root, n)))
      .flatMap(n => readIndexMeta(SidecarFs.child(root, n), n))
      .sortBy(_.name)
  }

  def get(base: String, name: String): Option[KvIndexDef] =
    readIndexMeta(indexPath(base, name), name)

  // shared plan-time listing cache (see DerivedDefCache scaladoc)
  private val listCache =
    new DerivedDefCache[KvIndexDef](indexRoot, list, _.baseVersion)

  private[graft] def invalidate(base: String): Unit =
    listCache.invalidate(base)

  /** `list` + per-def `inSync` pre-filter, memoized per (table, base
    * manifest version). Only in-sync definitions are returned. The
    * intent check runs OUTSIDE the memo: an intent can appear without a
    * base commit (a zombie refresh detected itself), and a cached
    * listing must not keep serving the suspect index. */
  def usableForPlanning(base: String): Seq[KvIndexDef] =
    listCache.usable(base)
      .filter(d => dataCurrent(base, d))
      .filterNot(d => KvMaintenance.markerExists(indexPath(base, d.name)))

  /** Has the index TABLE itself moved past the version the meta was
    * published against (a fenced-out zombie's late data append)? Runs
    * outside the listing memo — base commits don't accompany such
    * appends. Legacy metas (-1) predate the fence and stay trusted. */
  private def dataCurrent(base: String, d: KvIndexDef): Boolean =
    d.dataVersion < 0 ||
      SegmentFile.currentVersion(indexPath(base, d.name))
        .contains(d.dataVersion)

  /** Is the index exactly as fresh as the base table — the base's live
    * files those of the watermark snapshot, its own data unmoved since
    * publish — and free of an in-flight/suspect refresh
    * (intent marker)? The rewrite uses an index ONLY when this holds,
    * so index content is never trusted beyond the snapshot it provably
    * reflects. */
  def inSync(base: String, d: KvIndexDef): Boolean =
    SegmentFile.currentVersion(base)
      .exists(SegmentFile.sameFiles(base, _, d.baseVersion)) &&
      dataCurrent(base, d) &&
      !KvMaintenance.markerExists(indexPath(base, d.name))

  /** Estimated fraction of index rows a leading-key predicate can
    * match, from the packed per-segment planning stats alone (no data
    * access, O(1) file reads — the listing is the scan's own cached
    * pack). The predicate's qualified lead ranges (the scan's own
    * critical-point algebra) intersect each segment's decoded
    * leading-key interval; for NUMERIC leads the covered interval
    * length interpolates WITHIN the segment (uniform-density
    * assumption), so even a single-segment index distinguishes a point
    * lookup from a 90% range; non-numeric leads fall back to
    * whole-segment counting, which only has resolution on multi-segment
    * indexes — with fewer than 4 segments that falls to None.
    * None = undecidable; the caller decides its own default. */
  // a BLOCKED rewrite leaves the relation untagged, so the optimizer
  // fixpoint re-evaluates the estimate on every iteration of every
  // compile of that query shape — memoize per (index, manifest
  // version, predicate) so repeated evaluations cost one map lookup
  // plus the O(1) version probe
  private val fracCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), Option[Double]]()

  def estimateLeadMatchFraction(idxPath: String,
      pred: org.apache.spark.sql.sources.Filter): Option[Double] = {
    val cacheKey = SegmentFile.currentVersion(idxPath).map(v =>
      (graft.io.SidecarFs.qualified(idxPath), v, pred.toString))
    cacheKey.flatMap(k => Option(fracCache.get(k))) match {
      case Some(hit) => hit
      case None =>
        val computed = computeLeadMatchFraction(idxPath, pred)
        cacheKey.foreach { k =>
          if (fracCache.size > 4096) fracCache.clear() // bounded, rebuilt on demand
          fracCache.put(k, computed)
        }
        computed
    }
  }

  private def computeLeadMatchFraction(idxPath: String,
      pred: org.apache.spark.sql.sources.Filter): Option[Double] = {
    import graft.pruning.{CriticalPoints, TriEval}
    try {
      val m = GraftKvMeta.read(idxPath).getOrElse(return None)
      val segs = SegmentFile.listSegments(idxPath)
      if (segs.isEmpty) return Some(0.0)
      val codec = graft.store.RowCodec(m.schema, m.keys, m.encoding)
      val lead = m.keys.head
      val dt = m.schema(lead).dataType
      val qualified = CriticalPoints.qualifiedRanges(Seq(pred), lead, dt)
      def num(v: Any): Option[Double] = v match {
        case l: Long => Some(l.toDouble)
        case i: Int => Some(i.toDouble)
        case s: Short => Some(s.toDouble)
        case b: Byte => Some(b.toDouble)
        case d: Double => Some(d)
        case f: Float => Some(f.toDouble)
        case _ => None
      }
      val integral = dt match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      // covered length of [lo, hi] ∩ r, in "rows of a closed interval":
      // integral intervals count integers (+1), continuous ones measure
      // width (a point ⇒ ~0 — exactly what an equality on a continuous
      // domain should estimate)
      def covered(lo: Double, hi: Double, r: TriEval.ValueRange): Double = {
        val rl = r.lo.flatMap(num).getOrElse(lo)
        val rh = r.hi.flatMap(num).getOrElse(hi)
        val a = math.max(lo, if (!integral || r.loInc || r.lo.isEmpty) rl else rl + 1)
        val b = math.min(hi, if (!integral || r.hiInc || r.hi.isEmpty) rh else rh - 1)
        if (b < a) 0.0 else (b - a) + (if (integral) 1.0 else 0.0)
      }
      var total = 0.0
      var matched = 0.0
      var interpolated = true
      segs.foreach { s =>
        val n = math.max(s.count - 2 * s.tombstones, 0L).toDouble
        total += n
        val loV = codec.decodeKeyNormalized(s.minKey)(0)
        val hiV = codec.decodeKeyNormalized(s.maxKey)(0)
        (num(loV), num(hiV)) match {
          case (Some(lo), Some(hi)) =>
            val span = (hi - lo) + (if (integral) 1.0 else 0.0)
            val cov = qualified.map(covered(lo, hi, _)).sum
            matched += n * (if (span <= 0.0) {
              // zero-width segment: binary membership
              if (TriEval.eval(pred, Map(lead -> TriEval.Binding(dt,
                TriEval.ValueRange(Some(loV), loInc = true,
                  Some(loV), hiInc = true)))) != TriEval.False) 1.0 else 0.0
            } else math.min(1.0, cov / span))
          case _ =>
            interpolated = false
            val b = Map(lead -> TriEval.Binding(dt, TriEval.ValueRange(
              Some(loV), loInc = true, Some(hiV), hiInc = true)))
            if (TriEval.eval(pred, b) != TriEval.False) matched += n
        }
      }
      if (!interpolated && segs.length < 4) None // no resolution
      else if (total <= 0.0) Some(0.0)
      else Some(matched / total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def baseMeta(base: String): KvTableMeta =
    GraftKvMeta.read(base).getOrElse(throw new IllegalArgumentException(
      s"no graftkv table at $base"))

  private def currentOrFail(base: String): Long =
    SegmentFile.currentVersion(base).getOrElse(
      throw new IllegalStateException(
        s"table at $base has no snapshot manifest — write to it once " +
          "(any commit starts the versioned log) before indexing"))

  /** Build `name` on `base(cols)` from the CURRENT base snapshot. One
    * scan + one range-shuffle write, exactly like any bulk load. */
  def create(spark: SparkSession, base: String, name: String,
      cols: Seq[String]): KvIndexDef = {
    require(name.matches(NamePat), s"index name must match $NamePat: $name")
    require(cols.nonEmpty, "CREATE INDEX needs at least one column")
    val m = baseMeta(base)
    cols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"no column '$c' in ${m.schema.fieldNames.mkString(",")}"))
    require(cols.intersect(m.keys).isEmpty,
      s"cannot index key columns (${cols.intersect(m.keys).mkString(",")}) " +
        "— they are already the table's sort dimensions")
    require(get(base, name).isEmpty, s"index '$name' already exists on $base")
    val v = currentOrFail(base)
    val idxPath = indexPath(base, name)
    // read AS OF v: concurrent base commits cannot smear the watermark
    val entries = KvCommands.tableAsOf(spark, base, v)
      .select((cols ++ m.keys).map(col): _*)
      .where(cols.map(col(_).isNotNull).reduce(_ && _))
    KvCommands.createTable(entries, idxPath, cols ++ m.keys, m.encoding)
    require(publishIndexMeta(idxPath, cols, v, expectBaseVersion = None),
      s"index '$name' concurrently created on $base")
    invalidate(base)
    get(base, name).getOrElse(KvIndexDef(name, cols, v))
  }

  /** Advance `name` to the current base snapshot by applying the CDC
    * diff since its watermark: outdated entries tombstone out, new
    * values append — both ordinary index-table commits, sized by the
    * delta. No-op when already in sync. When the watermark snapshot is
    * no longer reconstructible — old manifests expire past the
    * retention window or count, and the sweep then reclaims the files
    * only they listed — the incremental path cannot diff, and the
    * refresh falls back to a FULL REBUILD from the current snapshot
    * (the same cost as CREATE INDEX; a half-applied incremental leaves
    * the watermark untouched, so the index just stays invisible to the
    * rewrite until the rebuild lands).
    *
    * CONCURRENCY: refreshes serialize on the artifact's maintenance
    * lease (KvMaintenance) — two interleaved refreshes with different
    * watermark bases could strand GHOST entries (an entry for a value a
    * later diff no longer knows to tombstone) behind an in-sync
    * watermark. A caller that loses the lease returns the current def
    * unchanged (staleness, never corruption). If a lease EXPIRY let a
    * zombie write anyway, the pre-publish meta re-check routes it to an
    * intent marker instead of a meta write: the index drops out of
    * planning until the next refresh, which sees the intent and takes
    * the absolute-rebuild path (erasing any ghosts). */
  def refresh(spark: SparkSession, base: String, name: String): KvIndexDef = {
    val d0 = get(base, name).getOrElse(throw new IllegalArgumentException(
      s"no index '$name' on $base"))
    val path0 = indexPath(base, name)
    if (currentOrFail(base) == d0.baseVersion && dataCurrent(base, d0) &&
      !KvMaintenance.markerExists(path0)) return d0
    KvMaintenance.acquire(path0) match {
      case None => d0 // live refresh elsewhere — stay (safely) stale
      case Some(lease) =>
        try refreshLocked(spark, base, name, lease)
        finally KvMaintenance.release(lease)
    }
  }

  private def refreshLocked(spark: SparkSession, base: String,
      name: String, lease: KvMaintenance.Lease): KvIndexDef = {
    // re-read under the lease: a queued-behind refresh may find a
    // predecessor already advanced the watermark
    val d = get(base, name).getOrElse(throw new IllegalArgumentException(
      s"no index '$name' on $base"))
    val m = baseMeta(base)
    val vNow = currentOrFail(base)
    val idxPath = indexPath(base, name)
    val markerAtStart = KvMaintenance.readMarker(idxPath)
    if (vNow == d.baseVersion && dataCurrent(base, d) &&
      markerAtStart.isEmpty) return d
    // an index table that moved past its published dataVersion carries
    // a fenced-out zombie's late append — possible ghosts; never diff
    // on top, rebuild absolutely
    val incremental = markerAtStart.isEmpty && dataCurrent(base, d) &&
      (try {
        val diff = KvCommands.snapshotDiff(spark, base, d.baseVersion, vNow)
          .persist() // one delta computation feeds both the drops and adds
        try {
          val idxChanged = d.cols.map(c =>
            !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
          // entries to retire: removed rows, and updated rows whose
          // indexed values moved (their index KEY changed). Tombstones
          // go first so their commit generation precedes the re-adds.
          val drops = diff.filter((col("change") === "removed" ||
              (col("change") === "updated" && idxChanged)) &&
              d.cols.map(c => col(s"old_$c").isNotNull).reduce(_ && _))
            .select(d.cols.map(c => col(s"old_$c").as(c)) ++ m.keys.map(col): _*)
          drops.write.format("graftkv").option("tombstone", "true")
            .mode("append").save(idxPath)
          val adds = diff.filter((col("change") === "added" ||
              (col("change") === "updated" && idxChanged)) &&
              d.cols.map(c => col(s"new_$c").isNotNull).reduce(_ && _))
            .select(d.cols.map(c => col(s"new_$c").as(c)) ++ m.keys.map(col): _*)
          KvCommands.append(adds, idxPath)
          true
        } finally diff.unpersist()
      } catch { case scala.util.control.NonFatal(_) => false })
    if (!incremental) {
      val entries = KvCommands.tableAsOf(spark, base, vNow)
        .select((d.cols ++ m.keys).map(col): _*)
        .where(d.cols.map(col(_).isNotNull).reduce(_ && _))
      KvCommands.createTable(entries, idxPath, d.cols ++ m.keys, m.encoding)
    }
    // refresh-driven tombstones accumulate → reclaim when read
    // amplification crosses the policy line (metadata-only check)
    KvCommands.autoCompact(spark, idxPath)
    // fenced publish (lease-expiry race): the CAS accepts only while
    // the CURRENT meta still names the watermark this refresh diffed
    // from — if ANOTHER refresh advanced it while we ran (we are the
    // zombie), the publish loses DETERMINISTICALLY and we quarantine
    // instead, so the index stays out of planning until the next
    // refresh rebuilds it. stillHeld is re-checked inside the same
    // guard as a cheap early detector; the CAS is what closes the
    // check-then-publish window it leaves open.
    val publishOk = KvMaintenance.stillHeld(lease) &&
      publishIndexMeta(idxPath, d.cols, vNow,
        expectBaseVersion = Some(d.baseVersion))
    if (!publishOk) {
      KvMaintenance.quarantine(idxPath)
      invalidate(base)
      get(base, name).getOrElse(d)
    } else {
      // a concurrent zombie's FRESH marker — never our token nor the
      // content we observed — survives this publish
      KvMaintenance.clearIfOwned(idxPath, lease, markerAtStart)
      invalidate(base)
      get(base, name).getOrElse(KvIndexDef(name, d.cols, vNow))
    }
  }

  def drop(base: String, name: String): Unit = {
    val p = indexPath(base, name)
    if (graft.io.SidecarFs.exists(p))
      graft.io.SidecarFs.deleteRecursively(p)
    invalidate(base)
  }

  private[connector] def deleteRecursively(path: String): Unit =
    graft.io.SidecarFs.deleteRecursively(path)

  /** SHOW-style inventory: (name, cols, watermark, in_sync, entries). */
  def describe(spark: SparkSession, base: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows = list(base).map { d =>
      val n = SegmentFile.listSegments(indexPath(base, d.name))
        .map(m => m.count - 2 * m.tombstones).sum
      Row(d.name, d.cols.mkString(","), d.baseVersion, inSync(base, d),
        math.max(n, 0L))
    }.asJava
    spark.createDataFrame(rows, StructType(Seq(
      StructField("index_name", StringType),
      StructField("columns", StringType),
      StructField("base_version", LongType),
      StructField("in_sync", BooleanType),
      StructField("entries", LongType))))
  }
}
