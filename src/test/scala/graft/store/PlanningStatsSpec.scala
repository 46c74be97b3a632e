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
    // a listing stats every child (seconds at 100k+ segment files), so
    // a fresh process must find the head from _graft_vhead in O(1) stat
    // calls
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
    // hint-less table: the fallback still finds the head, and the read
    // path writes nothing — no hint appears until the next commit
    assert(new java.io.File(path, "_graft_vhead").delete())
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path) == head)
    assert(!new java.io.File(path, "_graft_vhead").exists(),
      "the read path wrote a version hint")
    // stale hint from a dropped-and-recreated table self-heals
    java.nio.file.Files.writeString(
      Paths.get(path, "_graft_vhead"), "999999")
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path) == head)
  }

  test("a hint backfill aimed at a deleted table directory leaves no directory behind") {
    // a reader racing DROP TABLE: its lookup cached the head, the drop
    // then removed the directory, and only then does it look again.
    // The read path writes no hint, so nothing can recreate the table.
    val path = tmpTable()
    mkTable(path)
    assert(SegmentFile.currentVersion(path).nonEmpty)
    graft.io.SidecarFs.deleteRecursively(path)
    assert(SegmentFile.currentVersion(path).isEmpty)
    assert(!Files.exists(Paths.get(path)),
      "a read-path version lookup recreated the dropped table directory")
    SegmentFile.clearPlanningCache()
    assert(SegmentFile.currentVersion(path).isEmpty)
    assert(!Files.exists(Paths.get(path)))
    // a table re-created at the path: its commits still land the hint
    mkTable(path, appends = 1)
    val head = SegmentFile.currentVersion(path).get
    assert(Files.readString(Paths.get(path, "_graft_vhead")) == head.toString)
  }

  test("pack backfills aimed at a deleted table directory leave no directory behind") {
    // the planning-stats, NDV and quantile packs a reader backfills
    // after the table directory was dropped under it
    val path = tmpTable()
    mkTable(path)
    val head = SegmentFile.currentVersion(path).get
    val metas = SegmentFile.listSegments(path)
    def backfill(): Unit = {
      // the read path swallows a failed backfill the same way
      scala.util.Try(SegmentFile.writePackedStats(path, head, metas))
      scala.util.Try(SegmentFile.ndvPacks.writePack(path, head, Nil))
      scala.util.Try(SegmentFile.qsPacks.writePack(path, head, Nil))
    }
    graft.io.SidecarFs.deleteRecursively(path)
    backfill()
    assert(!Files.exists(Paths.get(path)),
      "a read-path pack write recreated the dropped table directory")
    // into a directory that exists, the backfills still land
    Files.createDirectories(Paths.get(path))
    backfill()
    for (p <- Seq("_graft_stats", "_graft_ndv", "_graft_qs"))
      assert(Files.isRegularFile(Paths.get(path, s"$p.v$head")), p)
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
    // destroy every pack (crashed committers / an older pack layout)
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
