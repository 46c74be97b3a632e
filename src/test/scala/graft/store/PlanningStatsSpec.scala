package graft.store

import graft.TestSpark
import graft.connector.KvCommands
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100-TB planning contract: listing a manifest-governed table's
  * segments for query planning does O(1) file reads per (table, manifest
  * version) — never one sidecar open per segment per plan. Commits pack
  * all live segments' planning stats into `_graft_stats.vN`; plans read
  * the pack once and cache it keyed on the version file's identity.
  * (The reference amortizes its region listing behind a 600 s TTL cache,
  * HBaseRelation.scala:202-239; the pack replaces TTL staleness with
  * version-exact invalidation.) */
class PlanningStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graftkv_stats").toString + "/t"

  private def mkTable(path: String, appends: Int = 3): Unit = {
    val df = spark.range(300).select(col("id").as("k"), col("id").as("v"))
    KvCommands.createTable(df, path, Seq("k"))
    (1 to appends).foreach { i =>
      KvCommands.append(spark.range(300L * i, 300L * i + 50)
        .select(col("id").as("k"), col("id").as("v")), path)
    }
  }

  private def statsFiles(path: String): Seq[String] =
    Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("_graft_stats.v")).toSeq.sorted

  test("every commit publishes a packed stats file alongside its manifest") {
    val path = tmpTable()
    mkTable(path)
    val manifests = SegmentFile.manifestVersions(path)
    assert(manifests.nonEmpty)
    val stats = statsFiles(path).map(_.stripPrefix("_graft_stats.v").toLong)
    assert(manifests.toSet.subsetOf(stats.toSet),
      s"manifest versions $manifests lack packs (have $stats)")
  }

  test("planning does zero sidecar opens once a version is cached") {
    val path = tmpTable()
    mkTable(path)
    val t = KvCommands.table(spark, path)
    t.where(col("k") > 100).count() // warm: version parsed + cached
    val before = SegmentFile.metaOpens.get()
    t.where(col("k") < 42).count()
    t.groupBy(col("k")).count().where(col("count") > 1).count()
    val plans = SegmentFile.metaOpens.get() - before
    assert(plans == 0, s"cached planning opened $plans sidecars")
  }

  test("cold version discovery reads the durable hint, never lists (r16)") {
    // the listing stats every child — 2.2-3.4 s at 200k files
    // (tools/ColdPlanProbe) — so a fresh process must find the head
    // from _graft_vhead in O(1) stat calls
    val path = tmpTable()
    mkTable(path)
    val head = SegmentFile.currentVersion(path)
    assert(head.nonEmpty)
    assert(new java.io.File(path, "_graft_vhead").isFile,
      "commits must persist the head-version hint")
    SegmentFile.clearPlanningCache() // simulate a fresh driver process
    val before = graft.io.SidecarFs.listCalls.get()
    assert(SegmentFile.currentVersion(path) == head)
    val listed = graft.io.SidecarFs.listCalls.get() - before
    assert(listed == 0, s"cold currentVersion listed the directory $listed times")
    // hint-less (legacy) table: the one-time listing fallback still
    // finds the head AND backfills the hint for the next cold process
    assert(new java.io.File(path, "_graft_vhead").delete())
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path) == head)
    assert(new java.io.File(path, "_graft_vhead").isFile,
      "listing fallback must backfill the hint")
    SegmentFile.clearPlanningCache()
    val before2 = graft.io.SidecarFs.listCalls.get()
    assert(SegmentFile.currentVersion(path) == head)
    assert(graft.io.SidecarFs.listCalls.get() == before2)
    // stale hint from a dropped-and-recreated table self-heals
    java.nio.file.Files.writeString(
      Paths.get(path, "_graft_vhead"), "999999")
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path) == head)
  }

  test("a hint backfill aimed at a deleted table directory leaves no directory behind") {
    // a reader racing DROP TABLE: its listing saw the table, the drop
    // then removed the directory, and only then does the backfill run
    val path = tmpTable()
    mkTable(path)
    val head = SegmentFile.currentVersion(path).get
    graft.io.SidecarFs.deleteRecursively(path)
    SegmentFile.backfillVersionHint(path, head)
    assert(!Files.exists(Paths.get(path)),
      "a read-path hint write recreated the dropped table directory")
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path).isEmpty)
    assert(!Files.exists(Paths.get(path)))
    // into a directory that exists, the backfill still lands
    Files.createDirectories(Paths.get(path))
    SegmentFile.backfillVersionHint(path, head)
    assert(Files.readString(Paths.get(path, "_graft_vhead")) == head.toString)
  }

  test("a fresh process reads the pack, not one sidecar per segment") {
    val path = tmpTable()
    mkTable(path)
    val nSegs = SegmentFile.listSegments(path).length
    assert(nSegs >= 2)
    SegmentFile.clearPlanningCache() // simulate a new driver process
    val before = SegmentFile.metaOpens.get()
    KvCommands.table(spark, path).where(col("k") > 100).count()
    val opens = SegmentFile.metaOpens.get() - before
    assert(opens == 0,
      s"cold plan opened $opens sidecars instead of reading the pack")
  }

  test("missing pack falls back to sidecars ONCE, then backfills") {
    val path = tmpTable()
    mkTable(path)
    val nSegs = SegmentFile.listSegments(path).length
    // destroy every pack (a pre-pack legacy table / crashed committers)
    statsFiles(path).foreach(n => Files.delete(Paths.get(path, n)))
    SegmentFile.clearPlanningCache()
    val before = SegmentFile.metaOpens.get()
    assert(SegmentFile.listSegments(path).length == nSegs)
    val coldOpens = SegmentFile.metaOpens.get() - before
    assert(coldOpens == nSegs, s"fallback read $coldOpens of $nSegs sidecars")
    // the fallback must have backfilled the pack for the current version
    val v = SegmentFile.currentVersion(path).get
    assert(Files.exists(Paths.get(path, s"_graft_stats.v$v")))
    SegmentFile.clearPlanningCache()
    val before2 = SegmentFile.metaOpens.get()
    assert(SegmentFile.listSegments(path).length == nSegs)
    assert(SegmentFile.metaOpens.get() - before2 == 0,
      "backfilled pack not used on the next cold plan")
  }

  test("packed stats round-trip every planning field exactly") {
    val path = tmpTable()
    // two key dims → non-lead Blooms; doubles → zone maps; then a delete
    // → tombstone counts; all must survive the pack round-trip
    val df = Seq((1L, 7, 1.5), (2L, 8, -2.5), (3L, 9, 99.0))
      .toDF("k1", "k2", "d")
    KvCommands.createTable(df, path, Seq("k1", "k2"))
    KvCommands.delete(spark, path, col("k1") === 3L)
    val fromSidecars = SegmentFile.listSegments(path)
      .map(_.file).sorted.map(f =>
        SegmentFile.readMeta(path, f.stripSuffix(".kv"), withIndex = false))
    SegmentFile.clearPlanningCache()
    val fromPack = SegmentFile.listSegments(path)
    assert(fromPack.map(_.file) == fromSidecars.map(_.file))
    fromPack.zip(fromSidecars).foreach { case (p, s) =>
      assert(p.minKey.sameElements(s.minKey) && p.maxKey.sameElements(s.maxKey))
      assert(p.count == s.count && p.sizeBytes == s.sizeBytes)
      assert(p.gen == s.gen && p.tombstones == s.tombstones)
      assert(p.schemaJson == s.schemaJson)
      assert(p.blooms.length == s.blooms.length)
      p.blooms.zip(s.blooms).foreach { case (a, b) =>
        assert(a.words.sameElements(b.words))
      }
      assert(p.zoneStats == s.zoneStats)
    }
  }

  test("legacy (manifest-less) NDV sweep is cached on the directory listing") {
    val path = tmpTable()
    mkTable(path)
    // strip every manifest + pack: the pre-manifest on-disk layout, where
    // the directory listing is the authority and there is no version to
    // key an NDV pack on
    Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("_graft_segments") ||
        n.startsWith("_graft_stats") || n.startsWith("_graft_ndv"))
      .foreach(n => Files.delete(Paths.get(path, n)))
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path).isEmpty)
    val nSegs = SegmentFile.listSegments(path).length
    assert(nSegs >= 2)
    val before = SegmentFile.ndvSidecarOpens.get()
    val first = SegmentFile.ndvSketches(path)
    assert(first.size == nSegs)
    assert(SegmentFile.ndvSidecarOpens.get() - before == nSegs,
      "first legacy NDV read must sweep each sidecar exactly once")
    // every later call (each CBO plan's estimateStatistics) serves the
    // cache: segments are immutable, so the unchanged listing fully
    // determines the sweep — zero sidecar opens
    val before2 = SegmentFile.ndvSidecarOpens.get()
    assert(SegmentFile.ndvSketches(path) eq first)
    assert(SegmentFile.ndvSketches(path) eq first)
    assert(SegmentFile.ndvSidecarOpens.get() - before2 == 0,
      "cached legacy NDV sweep re-opened sidecars")
  }

  test("legacy sweep cache keys on file attributes, not just names") {
    // a legacy table recreated IN PLACE with identical segment file
    // names must MISS the sweep cache (the key carries each file's
    // size/mtime/fileKey) — serving the dead table's sketches would be
    // a silently-wrong NDV
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("graftkv_legacy_attr").toString
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val name = "segment-00000-000000-legacy00"
    def write(vals: Seq[Long]): Unit = {
      val codec = RowCodec(schema, Seq("k"))
      val hll = new HyperLogLogPlusPlusHelper(SegmentFile.NdvRsd)
      val buf = new GenericInternalRow(Array.fill[Any](hll.numWords)(0L))
      val w = new SegmentFile.Writer(dir, name,
        cmp = codec.compareKeys, schemaJson = schema.json, gen = 1L)
      vals.foreach { x =>
        val row = new GenericInternalRow(Array[Any](x, x % 997))
        w.write(codec.encodeKey(row), codec.encodeValue(row))
        hll.update(buf, 0, x % 997, LongType)
      }
      w.close(Seq.empty,
        Seq(SegmentFile.NdvSketch("v",
          Array.tabulate(hll.numWords)(buf.getLong))),
        Seq.empty, Seq.empty)
      graft.connector.GraftKvMeta.write(dir, schema, Seq("k"))
    }
    write(0L until 10L)
    assert(SegmentFile.currentVersion(dir).isEmpty, "must stay legacy")
    val segs = SegmentFile.listSegments(dir)
    val first = SegmentFile.mergedNdvEstimate(segs,
      SegmentFile.ndvSketches(dir), "v")
    assert(first.exists(n => math.abs(n - 10L) <= 2), s"ndv: $first")
    // recreate in place: same directory, same segment file name
    Files.delete(Paths.get(dir, s"$name.kv"))
    Files.delete(Paths.get(dir, s"$name.kvmeta"))
    write(0L until 3000L) // 997 distinct v values now
    val segs2 = SegmentFile.listSegments(dir)
    val second = SegmentFile.mergedNdvEstimate(segs2,
      SegmentFile.ndvSketches(dir), "v")
    assert(second.exists(n => math.abs(n - 997L) <= 997 * 0.1),
      s"stale legacy sweep served: $second (want ≈997, stale ≈10)")
  }

  test("stale pack from a dead table at the same path is never trusted") {
    val path = tmpTable()
    mkTable(path, appends = 1)
    val rowsBefore = KvCommands.table(spark, path).count()
    KvCommands.dropTable(path)
    // recreate at the same path with different content; version numbers
    // restart at 1 — identity-keyed caching + set validation must not
    // serve the dead table's stats
    val df2 = spark.range(77).select(col("id").as("k"), col("id").as("v"))
    KvCommands.createTable(df2, path, Seq("k"))
    assert(KvCommands.table(spark, path).count() == 77)
    assert(SegmentFile.listSegments(path).map(_.count).sum == 77)
    assert(rowsBefore != 77)
  }

  test("snapshot reads serve from their version's pack after compaction") {
    val path = tmpTable()
    mkTable(path)
    val vOld = SegmentFile.currentVersion(path).get
    val oldRows = KvCommands.tableAsOf(spark, path, vOld).count()
    KvCommands.append(spark.range(5000, 5100)
      .select(col("id").as("k"), col("id").as("v")), path)
    SegmentFile.clearPlanningCache()
    val before = SegmentFile.metaOpens.get()
    assert(KvCommands.tableAsOf(spark, path, vOld).count() == oldRows)
    assert(SegmentFile.metaOpens.get() - before == 0,
      "snapshot plan opened sidecars despite a retained pack")
  }
}
