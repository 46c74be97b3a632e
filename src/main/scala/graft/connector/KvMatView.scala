package graft.connector

import graft.store.SegmentFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One materialized aggregate view: COUNT(*) plus exact Long SUMs of
  * `sumCols`, grouped by `groupCols`, as of base version `baseVersion`.
  * `nullRowsByGroup` counts, PER group column (aligned with
  * `groupCols`), the base rows holding NULL there — together they cover
  * every row the view EXCLUDES (NULL group values are unrepresentable
  * as view keys). Maintained by the same delta fold as the aggregates,
  * so the query rewrite ([[graft.sql.KvMatViewRule]]) can prove "the
  * view covers every base row this query sees" column by column without
  * trusting schema nullability (kv value columns are always
  * schema-nullable — NULL is an absent cell — yet usually hold no
  * NULLs). Empty means unknown (a pre-counter view): the rewrite then
  * falls back to schema nullability / query filters until the next
  * refresh recomputes the counts. */
final case class KvMatViewDef(name: String, groupCols: Seq[String],
    sumCols: Seq[String], baseVersion: Long,
    nullRowsByGroup: Seq[Long] = Nil,
    // the VIEW table's own manifest version at meta publish: a later
    // append (a fenced-out zombie's late write) bumps it and the view
    // self-invalidates out of planning. -1 = legacy pre-fencing meta.
    dataVersion: Long = -1L,
    // value columns with maintained per-group MIN/MAX (__min_c/__max_c).
    // Inserts fold incrementally (an extreme only tightens); a removal
    // or update that TOUCHES a group's stored extreme triggers a rescan
    // of that group alone — see refresh.
    minMaxCols: Seq[String] = Nil)

/** Incrementally-maintained aggregate views over graftkv tables
  * (extension scope — the warehouse "incremental materialized view"
  * restated on this engine's CDC machinery).
  *
  * A view on `t` is an ordinary kv table under `t/_mv/<name>` keyed by
  * the group columns, holding `__cnt` (group row count) and, per summed
  * column c, `__sum_c` + `__nn_c` (exact Long sum over non-null values
  * and the non-null count — enough to reproduce SQL SUM/AVG semantics
  * including their NULL-when-no-input rule). The maintenance protocol
  * is the secondary-index one ([[KvIndex]]): a WATERMARK records the
  * base manifest version the view reflects; writers never touch views;
  * REFRESH applies the snapshot-diff CDC delta — each removed/updated
  * row contributes (-1, -old values) at its old group, each
  * added/updated row (+1, +new values) at its new group; the folded
  * deltas join the current view rows (only the AFFECTED groups) and
  * land as ONE Put-upsert commit — emptied groups are stored as
  * `__cnt = 0` rows that `read` filters out, precisely so the whole
  * delta is a single atomic manifest commit (a tombstone pass would be
  * a second commit, and a reader or crash between the two would see a
  * state no base snapshot ever produced). Because the folded deltas
  * are RELATIVE, a half-applied refresh must never be re-applied: an
  * intent marker written before the data commit forces the next
  * refresh onto the absolute REBUILD path if the previous one did not
  * complete (rebuild also covers a watermark snapshot compacted away).
  * Refresh cost scales with the delta, never with the table. Sums are
  * integral-only by design: Long arithmetic is exact, so an
  * incrementally-maintained value is bit-identical to a full
  * recompute — float sums would drift under reordering and are
  * refused at create.
  *
  * Declared `minMaxCols` additionally store `__min_c`/`__max_c` per
  * group (any totally-ordered atomic type — min/max select a stored
  * value, they never synthesize one, so floats are exact here).
  * MIN/MAX are not self-inverting under deletion the way SUM/COUNT
  * are, so the fold splits: inserts only TIGHTEN an extreme
  * (least/greatest against the stored value — still pure delta cost,
  * the append-only dashboard path), while a removed or changed value
  * that could TIE a group's stored extreme re-derives that group's
  * extremes from the new snapshot restricted to exactly the affected
  * groups (a semi-join the kv scan prunes by when the group columns
  * are key columns). Cost is delta + touched-extreme groups, never
  * the table.
  *
  * Group columns are key columns of the view, so NULL group values are
  * not representable: rows whose group columns hold NULL are EXCLUDED
  * from the view by contract (the same rule the secondary index
  * applies to NULL indexed values; COALESCE the group expression in
  * the base table to aggregate them). At 100 TB the payoff: a
  * dashboard-style aggregate over an append-heavy fact table reads a
  * tiny pre-folded view and each refresh costs one CDC diff, not a
  * full-table re-aggregation. */
object KvMatView {

  private val NamePat = "[A-Za-z0-9_]+"

  def mvRoot(base: String): String = s"$base/_mv"
  def mvPath(base: String, name: String): String = s"${mvRoot(base)}/$name"
  private val MetaName = "_graft_mv"

  private def metaContent(d: KvMatViewDef): String =
    d.groupCols.mkString(",") + "\n" +
      d.sumCols.mkString(",") + "\n" + d.baseVersion + "\n" +
      d.nullRowsByGroup.mkString(",") + "\n" + d.dataVersion + "\n" +
      d.minMaxCols.mkString(",")

  private def parseMeta(name: String, content: String): Option[KvMatViewDef] = {
    val lines = content.split('\n')
    if (lines.length < 3) return None
    def cols(s: String) = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val groupCols = cols(lines(0))
    val nullRows =
      if (lines.length >= 4) {
        val ns = cols(lines(3)).flatMap(s => s.toLongOption)
        if (ns.length == groupCols.length) ns else Nil
      } else Nil
    val dataV =
      if (lines.length >= 5) lines(4).trim.toLongOption.getOrElse(-1L)
      else -1L
    val mmCols = if (lines.length >= 6) cols(lines(5)) else Nil
    for (v <- lines(2).trim.toLongOption)
      yield KvMatViewDef(name, groupCols, cols(lines(1)), v, nullRows, dataV,
        mmCols)
  }

  /** Fenced meta publish: wins only while the CURRENT meta still names
    * `expectBaseVersion` as its watermark (None = creating) — the CAS
    * that makes a zombie's stale publish lose deterministically (see
    * KvMaintenance's fenced-publish section). `d.dataVersion` is
    * stamped here from the view table's manifest head. */
  private def publishMvMeta(p: String, d: KvMatViewDef,
      expectBaseVersion: Option[Long]): Option[KvMatViewDef] = {
    val nd = d.copy(dataVersion =
      SegmentFile.currentVersion(p).getOrElse(-1L))
    val ok = KvMaintenance.casPublishMeta(p, MetaName, metaContent(nd)) { cur =>
      (cur.flatMap(parseMeta("_", _)).map(_.baseVersion), expectBaseVersion) match {
        case (None, None) => true // creating a fresh view
        case (Some(curV), Some(expV)) => curV == expV
        case _ => false
      }
    }
    if (ok) Some(nd) else None
  }

  private def readMvMeta(p: String, name: String): Option[KvMatViewDef] =
    KvMaintenance.readVersionedMeta(p, MetaName).flatMap(parseMeta(name, _))

  def list(base: String): Seq[KvMatViewDef] = {
    import graft.io.SidecarFs
    val root = mvRoot(base)
    if (!SidecarFs.isDirectory(root)) return Nil
    SidecarFs.list(root)
      .filter(n => SidecarFs.isDirectory(SidecarFs.child(root, n)))
      .flatMap(n => readMvMeta(SidecarFs.child(root, n), n))
      .sortBy(_.name)
  }

  def get(base: String, name: String): Option[KvMatViewDef] =
    readMvMeta(mvPath(base, name), name)

  /** Has the view TABLE itself moved past the version the meta was
    * published against (a fenced-out zombie's late data append)?
    * Legacy metas (-1) predate the fence and stay trusted. */
  private def dataCurrent(base: String, d: KvMatViewDef): Boolean =
    d.dataVersion < 0 ||
      SegmentFile.currentVersion(mvPath(base, d.name))
        .contains(d.dataVersion)

  /** In sync = the base's live files are the watermark snapshot's (a
    * header-only ALTER TABLE keeps them), the view's own data unmoved
    * since publish, AND no in-flight/suspect refresh (intent marker) —
    * a mid-apply or zombie-touched view must never answer queries. */
  def inSync(base: String, d: KvMatViewDef): Boolean =
    SegmentFile.currentVersion(base)
      .exists(SegmentFile.sameFiles(base, _, d.baseVersion)) &&
      dataCurrent(base, d) &&
      !KvMaintenance.markerExists(mvPath(base, d.name))

  // shared plan-time listing cache (see DerivedDefCache scaladoc)
  private val listCache =
    new DerivedDefCache[KvMatViewDef](mvRoot, list, _.baseVersion)

  private[graft] def invalidate(base: String): Unit =
    listCache.invalidate(base)

  /** In-sync view definitions, memoized per (table, manifest version);
    * the intent check runs OUTSIDE the memo (an intent can appear
    * without a base commit). */
  def usableForPlanning(base: String): Seq[KvMatViewDef] =
    listCache.usable(base)
      .filter(d => dataCurrent(base, d))
      .filterNot(d => KvMaintenance.markerExists(mvPath(base, d.name)))

  private def baseMeta(base: String): KvTableMeta =
    GraftKvMeta.read(base).getOrElse(throw new IllegalArgumentException(
      s"no graftkv table at $base"))

  private def currentOrFail(base: String): Long =
    SegmentFile.currentVersion(base).getOrElse(
      throw new IllegalStateException(
        s"table at $base has no snapshot manifest — write to it once " +
          "before creating a materialized view"))

  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** SUM-maintainable: exact, order-independent addition. Integrals
    * fold in Long; decimals (round 9 — money dashboards) fold in
    * Spark's exact decimal arithmetic at Sum's own widened type
    * (p + 10 capped at 38; p ≤ 28 keeps the headroom, so incremental
    * maintenance matches a full recompute bit-for-bit). Floats stay
    * refused: addition reorders under parallelism and drifts. */
  private[connector] def exactSummable(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case d: org.apache.spark.sql.types.DecimalType => d.precision <= 28
    case other => integral(other)
  }

  /** The stored `__sum_c` type for a base column (Sum's result type). */
  private[connector] def sumTypeOf(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0, dt, nullable = true))
      .dataType

  /** MIN/MAX-maintainable: any totally-ordered atomic type. Unlike
    * SUM, min/max never synthesize a value — they select one the base
    * holds — so floats and decimals are exact here. */
  private def orderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
          BooleanType => true
      case _ => false
    }
  }

  /** Stored-row aggregation of `rows`: one row per (non-NULL) group
    * with __cnt / __sum_c / __nn_c / __min_c / __max_c. NULL-group rows
    * are excluded by the view contract (no representable key). */
  private def fold(rows: DataFrame, d: KvMatViewDef): DataFrame =
    rows.where(d.groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(d.groupCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"),
        d.sumCols.flatMap { c =>
          // stored sum type = Sum's own result type (Long for
          // integrals, widened decimal for money columns) — exact in
          // both, and the all-null group stores 0 with __nn = 0
          val st = sumTypeOf(rows.schema(c).dataType)
          Seq(coalesce(sum(col(c)).cast(st), lit(0).cast(st)).as(s"__sum_$c"),
            count(col(c)).as(s"__nn_$c"))
        } ++
          d.minMaxCols.flatMap(c => Seq(
            min(col(c)).as(s"__min_$c"),
            max(col(c)).as(s"__max_$c"))): _*)

  def create(spark: SparkSession, base: String, name: String,
      groupCols: Seq[String], sumCols: Seq[String] = Nil,
      minMaxCols: Seq[String] = Nil): KvMatViewDef = {
    require(name.matches(NamePat), s"view name must match $NamePat: $name")
    require(groupCols.nonEmpty, "materialized view needs group columns")
    val m = baseMeta(base)
    (groupCols ++ sumCols ++ minMaxCols).foreach(c =>
      require(m.schema.fieldNames.contains(c), s"no column '$c'"))
    sumCols.foreach(c => require(exactSummable(m.schema(c).dataType),
      s"SUM($c): only integral or decimal(p<=28) columns — their " +
        "addition is exact and order-independent, so incremental " +
        "maintenance matches a full recompute bit-for-bit; float sums " +
        "would drift under reordering"))
    minMaxCols.foreach { c =>
      require(orderable(m.schema(c).dataType),
        s"MINMAX($c): needs a totally-ordered atomic type")
      require(!groupCols.contains(c),
        s"MINMAX($c): group columns already carry their value set — " +
          "min/max of a group column rewrites without being declared")
    }
    require(get(base, name).isEmpty, s"view '$name' already exists on $base")
    val v = currentOrFail(base)
    // the fold and the counter are two actions over the same snapshot —
    // cache it so the base scans once
    val snap = KvCommands.tableAsOf(spark, base, v).persist()
    try {
      val d = KvMatViewDef(name, groupCols, sumCols, v,
        nullRowsByGroup = perColNullCounts(snap, m, groupCols),
        minMaxCols = minMaxCols)
      KvCommands.createTable(fold(snap, d), mvPath(base, name), groupCols,
        m.encoding)
      val published = publishMvMeta(mvPath(base, name), d,
        expectBaseVersion = None).getOrElse(throw new IllegalStateException(
        s"view '$name' concurrently created on $base"))
      invalidate(base)
      published
    } finally snap.unpersist()
  }

  /** Per group column: base rows the view cannot hold because that
    * column is NULL. Free when the schema already proves a column
    * non-nullable; otherwise one aggregate over the same snapshot the
    * absolute fold scans anyway. */
  private def perColNullCounts(snap: DataFrame, m: KvTableMeta,
      groupCols: Seq[String]): Seq[Long] = {
    val nullable = groupCols.filter(c => m.schema(c).nullable)
    if (nullable.isEmpty) groupCols.map(_ => 0L)
    else {
      val row = snap.select(nullable.map(c =>
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(c)): _*).first()
      val byName = nullable.zipWithIndex
        .map { case (c, i) => c -> row.getLong(i) }.toMap
      groupCols.map(c => byName.getOrElse(c, 0L))
    }
  }

  /** The view's logical face: group columns, `cnt`, and per summed
    * column `sum_c` with SQL semantics (NULL when the group had no
    * non-null input) plus `avg_c`. */
  def read(spark: SparkSession, base: String, name: String): DataFrame = {
    val d = get(base, name).getOrElse(throw new IllegalArgumentException(
      s"no materialized view '$name' on $base"))
    val t = KvCommands.table(spark, mvPath(base, name))
      // groups a refresh emptied persist as __cnt = 0 rows (keeping the
      // whole delta a single atomic commit) and are not view rows
      .filter(col("__cnt") > 0)
    t.select(d.groupCols.map(col) ++ Seq(col("__cnt").as("cnt")) ++
      d.sumCols.flatMap(c => Seq(
        when(col(s"__nn_$c") > 0, col(s"__sum_$c")).as(s"sum_$c"),
        when(col(s"__nn_$c") > 0,
          col(s"__sum_$c") / col(s"__nn_$c")).as(s"avg_$c"))) ++
      // stored NULL = the group holds no non-null value (SQL MIN/MAX)
      d.minMaxCols.flatMap(c => Seq(
        col(s"__min_$c").as(s"min_$c"),
        col(s"__max_$c").as(s"max_$c"))): _*)
  }

  /** A crashed refresh must not leave RELATIVE deltas half-trusted:
    * the marker is written before the incremental data commit and
    * cleared only after the watermark advanced, so any refresh that
    * finds it takes the absolute rebuild path (idempotent, overwrite). */

  /** Advance to the current base snapshot by folding the CDC delta into
    * the stored groups. No-op in sync; full rebuild when the watermark
    * snapshot is gone or a previous refresh died mid-flight.
    *
    * CONCURRENCY: refreshes serialize on the maintenance lease
    * (KvMaintenance) — the deltas are RELATIVE, so two interleaved
    * refreshes from the same watermark would double-apply them. A
    * caller that loses the lease returns the current def unchanged
    * (staleness, never corruption); a zombie that outlived a stolen
    * lease is caught by the pre-publish meta re-check and leaves an
    * intent marker (next refresh rebuilds absolutely) instead of
    * publishing over the thief's watermark. */
  def refresh(spark: SparkSession, base: String, name: String): KvMatViewDef = {
    val d0 = get(base, name).getOrElse(throw new IllegalArgumentException(
      s"no materialized view '$name' on $base"))
    if (currentOrFail(base) == d0.baseVersion && d0.nullRowsByGroup.nonEmpty &&
      dataCurrent(base, d0) &&
      !KvMaintenance.markerExists(mvPath(base, name))) return d0
    KvMaintenance.acquire(mvPath(base, name)) match {
      case None => d0 // live refresh elsewhere — stay (safely) stale
      case Some(lease) =>
        try refreshLocked(spark, base, name, lease)
        finally KvMaintenance.release(lease)
    }
  }

  private def refreshLocked(spark: SparkSession, base: String,
      name: String, lease: KvMaintenance.Lease): KvMatViewDef = {
    // re-read under the lease: a queued-behind refresh may find a
    // predecessor already advanced the watermark
    val d = get(base, name).getOrElse(throw new IllegalArgumentException(
      s"no materialized view '$name' on $base"))
    val vNow = currentOrFail(base)
    val p = mvPath(base, name)
    // a SUSPECT marker (zombie refresh detected itself post-hoc) means
    // the content may be corrupt even though the watermark matches —
    // never reclaim it; fall through to the rebuild path instead
    // capture the start-of-refresh marker CONTENT: the publish tail may
    // clear exactly the marker it observed (and healed) — a zombie's
    // fresh marker, even another suspect one, has different content
    val markerAtStart = KvMaintenance.readMarker(p)
    val suspectMarker = KvMaintenance.isSuspect(markerAtStart)
    if (vNow == d.baseVersion && dataCurrent(base, d) && !suspectMarker) {
      // a refresh that advanced the watermark but died before clearing
      // its marker is complete — reclaim it, but only the marker we
      // OBSERVED: a zombie's suspect marker landing in this window is a
      // live corruption signal the reclaim must not erase
      KvMaintenance.clearIfOwned(p, lease, markerAtStart)
      if (d.nullRowsByGroup.nonEmpty) return d
      // one-time upgrade of an in-sync pre-counter view: compute the
      // per-column NULL counts so the aggregate rewrite can fire
      val upgraded = d.copy(nullRowsByGroup = perColNullCounts(
        KvCommands.tableAsOf(spark, base, vNow), baseMeta(base), d.groupCols))
      val published = publishMvMeta(p, upgraded,
        expectBaseVersion = Some(d.baseVersion))
      invalidate(base)
      return published.getOrElse(get(base, name).getOrElse(d))
    }
    val m = baseMeta(base)
    // hidden __cnt=0 rows (groups a refresh emptied) are live puts no
    // compaction reclaims; over a churning group domain they would
    // accumulate as O(groups ever seen). When they rival the live rows,
    // take the absolute rebuild path — it rewrites only live groups.
    val hidden =
      try KvCommands.table(spark, p).filter(col("__cnt") <= 0).count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    // excluded-row counter maintenance (rewrite soundness; see
    // KvMatViewDef.nullRowsByGroup). The incremental path folds the
    // diff's NULL-group contributions; the rebuild path recomputes
    // absolutely.
    var nullRowsNow: Seq[Long] = Nil
    val nullableG = d.groupCols.filter(c => m.schema(c).nullable)
    // a view table that moved past its published dataVersion carries a
    // fenced-out zombie's late write — never fold a delta on top of it
    val incremental = !KvMaintenance.markerExists(p) &&
      dataCurrent(base, d) &&
      !(hidden > 64 && hidden * 2 >
        SegmentFile.listSegments(p).map(s => s.count - 2 * s.tombstones).sum) &&
      (try {
        val diff = KvCommands.snapshotDiff(spark, base, d.baseVersion, vNow)
          .persist() // one delta computation feeds probe + merge
        try {
          // each diff row contributes its OLD side negatively and its
          // NEW side positively; 'added'/'removed' rows just lack one
          // side. Base KEY columns keep their plain names in the diff
          // (a key cannot change); value columns carry old_/new_
          // prefixes. NULL-group contributions drop out — those rows
          // are outside the view by contract.
          def sided(tag: String, c: String): Column =
            if (m.keys.contains(c)) col(c) else col(s"${tag}_$c")
          // did an 'updated' row actually change c? (keys cannot change
          // within an update — the diff joins on the primary key)
          def changedFor(c: String): Column =
            if (m.keys.contains(c)) lit(false)
            else !(col(s"old_$c") <=> col(s"new_$c"))
          // did an 'updated' row MOVE between groups? Its minmax value —
          // even an unchanged one — then leaves the old group and enters
          // the new, so both sides must contribute (null-safe: a
          // NULL↔non-NULL group transition is a view exit/entry and
          // counts as moved; the side filters drop the null-group side)
          val groupMoved: Column = d.groupCols.map(changedFor)
            .foldLeft(lit(false))(_ || _)
          def mmNull(c: String): Column =
            lit(null).cast(m.schema(c).dataType)
          def side(tag: String, sign: Int) = diff
            .filter((if (tag == "old")
              col("change").isin("removed", "updated")
            else col("change").isin("added", "updated")) &&
              d.groupCols.map(c => sided(tag, c).isNotNull).reduce(_ && _))
            .select(d.groupCols.map(c => sided(tag, c).as(c)) ++
              Seq(lit(sign.toLong).as("__dcnt")) ++
              d.sumCols.flatMap { c =>
                // deltas fold in the stored sum type (Long / widened
                // decimal) — both exact, both order-independent
                val st = sumTypeOf(m.schema(c).dataType)
                Seq((coalesce(sided(tag, c).cast(st), lit(0).cast(st)) * sign)
                  .cast(st).as(s"__dsum_$c"),
                  when(sided(tag, c).isNotNull, sign.toLong).otherwise(0L)
                    .as(s"__dnn_$c"))
              } ++
              // per minmax col: the value this row ADDS to / REMOVES
              // from its group; an update that left c untouched
              // contributes nothing (no spurious rescans)
              d.minMaxCols.flatMap { c =>
                val active = col("change") ===
                  (if (tag == "old") "removed" else "added") ||
                  (col("change") === "updated" &&
                    (changedFor(c) || groupMoved))
                if (tag == "old")
                  Seq(mmNull(c).as(s"__add_$c"),
                    when(active, sided(tag, c)).as(s"__rem_$c"))
                else
                  Seq(when(active, sided(tag, c)).as(s"__add_$c"),
                    mmNull(c).as(s"__rem_$c"))
              }: _*)
          val deltas = side("old", -1).unionAll(side("new", 1))
            .groupBy(d.groupCols.map(col): _*)
            .agg(sum(col("__dcnt")).as("__dcnt"),
              d.sumCols.flatMap(c => Seq(
                sum(col(s"__dsum_$c")).as(s"__dsum_$c"),
                sum(col(s"__dnn_$c")).as(s"__dnn_$c"))) ++
              d.minMaxCols.flatMap(c => Seq(
                min(col(s"__add_$c")).as(s"__addmin_$c"),
                max(col(s"__add_$c")).as(s"__addmax_$c"),
                min(col(s"__rem_$c")).as(s"__remmin_$c"),
                max(col(s"__rem_$c")).as(s"__remmax_$c"))): _*)
            .filter(col("__dcnt") =!= 0 ||
              (d.sumCols.map(c => col(s"__dsum_$c") =!= 0 ||
                col(s"__dnn_$c") =!= 0) ++
                d.minMaxCols.map(c => col(s"__addmin_$c").isNotNull ||
                  col(s"__remmin_$c").isNotNull))
                .foldLeft(lit(false))(_ || _))
          if (!deltas.isEmpty) {
            // only the affected groups' current rows join in; emptied
            // groups become __cnt = 0 puts so the WHOLE delta is one
            // atomic commit (read filters them; no tombstone pass)
            val current = KvCommands.table(spark, p)
            val mergedBase = deltas.join(current, d.groupCols, "left")
            val mergedCols = d.groupCols.map(col) ++
              Seq((coalesce(col("__cnt"), lit(0L)) + col("__dcnt"))
                .as("__cnt")) ++
              d.sumCols.flatMap { c =>
                // the add widens decimals one digit; the cast back to
                // the stored type is exact (ANSI errors loudly on a
                // genuine overflow — the same point the base aggregate
                // itself would overflow)
                val st = sumTypeOf(m.schema(c).dataType)
                Seq((coalesce(col(s"__sum_$c"), lit(0).cast(st)) +
                  col(s"__dsum_$c")).cast(st).as(s"__sum_$c"),
                  (coalesce(col(s"__nn_$c"), lit(0L)) + col(s"__dnn_$c"))
                    .as(s"__nn_$c"))
              }
            // marker content = OUR lease token (the publish tail only
            // clears a marker it owns; suspect markers never carry a
            // token, so they are never mistaken for ours)
            if (d.minMaxCols.isEmpty) {
              KvMaintenance.markInFlight(p, lease)
              KvCommands.append(mergedBase.select(mergedCols: _*), p)
            } else {
              // extremes: inserts only TIGHTEN (least/greatest fold);
              // a removal that could TIE a stored extreme makes the new
              // extreme any surviving row — rescan exactly those groups
              // from the new snapshot. Append-only refreshes (the
              // dashboard ingest pattern) never take this branch, and
              // the rescan scan is group-restricted: when the group
              // columns are key columns the semi-join prunes the base
              // scan through the runtime-IN machinery.
              val merged = mergedBase.select(mergedCols ++
                d.minMaxCols.flatMap(c => Seq(
                  least(col(s"__min_$c"), col(s"__addmin_$c"))
                    .as(s"__min_$c"),
                  greatest(col(s"__max_$c"), col(s"__addmax_$c"))
                    .as(s"__max_$c"))) ++
                Seq(d.minMaxCols.map { c =>
                  col(s"__remmin_$c").isNotNull &&
                    (col(s"__min_$c").isNull ||
                      col(s"__remmin_$c") <= col(s"__min_$c") ||
                      col(s"__remmax_$c") >= col(s"__max_$c"))
                }.reduce(_ || _).as("__rescan")): _*)
                .persist()
              try {
                val needs = merged.filter(col("__rescan"))
                val out =
                  if (needs.isEmpty) merged.drop("__rescan")
                  else {
                    val mmAggs = d.minMaxCols.flatMap(c => Seq(
                      min(col(c)).as(s"__rs_min_$c"),
                      max(col(c)).as(s"__rs_max_$c")))
                    val exact = KvCommands.tableAsOf(spark, base, vNow)
                      .join(needs.select(d.groupCols.map(col): _*),
                        d.groupCols, "leftsemi")
                      .groupBy(d.groupCols.map(col): _*)
                      .agg(mmAggs.head, mmAggs.tail: _*)
                    // left join: a group emptied by the delta has no
                    // surviving rows — its extremes rescan to NULL
                    needs.drop("__rescan" +: d.minMaxCols.flatMap(c =>
                        Seq(s"__min_$c", s"__max_$c")): _*)
                      .join(exact, d.groupCols, "left")
                      .select(d.groupCols.map(col) ++ Seq(col("__cnt")) ++
                        d.sumCols.flatMap(c =>
                          Seq(col(s"__sum_$c"), col(s"__nn_$c"))) ++
                        d.minMaxCols.flatMap(c => Seq(
                          col(s"__rs_min_$c").as(s"__min_$c"),
                          col(s"__rs_max_$c").as(s"__max_$c"))): _*)
                      .unionByName(
                        merged.filter(!col("__rescan")).drop("__rescan"))
                  }
                KvMaintenance.markInFlight(p, lease)
                KvCommands.append(out, p)
              } finally merged.unpersist()
            }
          }
          nullRowsNow =
            if (nullableG.isEmpty) d.groupCols.map(_ => 0L)
            else if (d.nullRowsByGroup.isEmpty)
              // one-time upgrade of a pre-counter view: absolute counts
              perColNullCounts(KvCommands.tableAsOf(spark, base, vNow),
                m, d.groupCols)
            else {
              val row = diff.select(nullableG.map { c =>
                (coalesce(sum(when(col("change").isin("added", "updated") &&
                  sided("new", c).isNull, 1L).otherwise(0L)), lit(0L)) -
                  coalesce(sum(when(col("change").isin("removed", "updated") &&
                    sided("old", c).isNull, 1L).otherwise(0L)), lit(0L)))
                  .as(c)
              }: _*).first()
              val delta = nullableG.zipWithIndex
                .map { case (c, i) => c -> row.getLong(i) }.toMap
              d.groupCols.zipWithIndex.map { case (c, i) =>
                d.nullRowsByGroup(i) + delta.getOrElse(c, 0L)
              }
            }
          true
        } finally diff.unpersist()
      } catch { case scala.util.control.NonFatal(_) => false })
    if (!incremental) {
      // a SUSPECT marker must stay suspect until the healing rebuild
      // PUBLISHES — overwriting it here and crashing mid-rebuild would
      // let the next refresh's reclaim shortcut erase the corruption
      // signal while the data is still corrupt
      if (!suspectMarker) KvMaintenance.markInFlight(p, lease)
      val snapNow = KvCommands.tableAsOf(spark, base, vNow).persist()
      try {
        KvCommands.createTable(fold(snapNow, d), p, d.groupCols, m.encoding)
        nullRowsNow = perColNullCounts(snapNow, m, d.groupCols)
      } finally snapNow.unpersist()
    }
    KvCommands.autoCompact(spark, p)
    // fenced publish (lease-expiry race): the CAS accepts only while
    // the CURRENT meta still names the watermark this refresh folded
    // from — if another refresh advanced it while we ran (we are the
    // zombie), the publish loses DETERMINISTICALLY and we quarantine,
    // so the view never answers queries from delta-composed-with-
    // foreign-writes content. stillHeld stays as a cheap early
    // detector; the CAS closes the check-then-publish window.
    val nd = d.copy(baseVersion = vNow, nullRowsByGroup = nullRowsNow)
    val published =
      if (KvMaintenance.stillHeld(lease))
        publishMvMeta(p, nd, expectBaseVersion = Some(d.baseVersion))
      else None
    published match {
      case None =>
        KvMaintenance.quarantine(p)
        invalidate(base)
        get(base, name).getOrElse(d)
      case Some(pub) =>
        // clear only a marker WE own (our token, or the marker our
        // rebuild just healed) — a concurrent zombie's fresh suspect
        // marker must survive this publish
        KvMaintenance.clearIfOwned(p, lease, markerAtStart)
        invalidate(base)
        pub
    }
  }

  def drop(base: String, name: String): Unit = {
    val p = mvPath(base, name)
    if (graft.io.SidecarFs.exists(p)) KvIndex.deleteRecursively(p)
    invalidate(base)
  }

  /** Inventory: (name, group cols, sum cols, watermark, in_sync). */
  def describe(spark: SparkSession, base: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows = list(base).map { d =>
      Row(d.name, d.groupCols.mkString(","), d.sumCols.mkString(","),
        d.baseVersion, inSync(base, d),
        if (d.nullRowsByGroup.isEmpty) null else d.nullRowsByGroup.mkString(","),
        d.minMaxCols.mkString(","))
    }.asJava
    spark.createDataFrame(rows, StructType(Seq(
      StructField("view_name", StringType),
      StructField("group_columns", StringType),
      StructField("sum_columns", StringType),
      StructField("base_version", LongType),
      StructField("in_sync", BooleanType),
      // per group column: base rows the view excludes because that
      // column is NULL; null = unknown (pre-counter view)
      StructField("null_rows_by_group_col", StringType),
      StructField("minmax_columns", StringType))))
  }
}
