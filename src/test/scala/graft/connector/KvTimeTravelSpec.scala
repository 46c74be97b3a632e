package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Time travel over kv tables: every commit retains a numbered snapshot
  * manifest (`_graft_segments.vN`), readable via `VERSION AS OF` through
  * the catalog or `snapshot.version` through the path API. Snapshots are
  * frozen read-only views; they survive compaction for the retention
  * window and expire with it. */
class KvTimeTravelSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft_tt", classOf[GraftKvCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_tt.root",
      Files.createTempDirectory("graft_tt_catalog").toString)
    s
  }
  import spark.implicits._

  private def state(path: String, v: Long): Map[Long, String] =
    KvCommands.tableAsOf(spark, path, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  for (enc <- Seq(graft.store.RowCodec.Binary, graft.store.RowCodec.StringFormat))
  test(s"each commit is a readable snapshot; compaction preserves history ($enc)") {
    val path = Files.createTempDirectory(s"graftkv_tt_$enc").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      Seq("k"), enc)
    val v1 = KvCommands.snapshots(path).last
    KvCommands.append(Seq((3L, "c")).toDF("k", "v"), path)
    val v2 = KvCommands.snapshots(path).last
    KvCommands.append(Seq((2L, "b2")).toDF("k", "v"), path) // upsert
    val v3 = KvCommands.snapshots(path).last
    KvCommands.delete(spark, path, col("k") === 1L)
    val v4 = KvCommands.snapshots(path).last
    assert(Seq(v1, v2, v3, v4) == Seq(v1, v2, v3, v4).sorted && v1 < v4)

    assert(state(path, v1) == Map(1L -> "a", 2L -> "b"))
    assert(state(path, v2) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(state(path, v3) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    assert(state(path, v4) == Map(2L -> "b2", 3L -> "c"))

    // compaction rewrites the physical layout but every snapshot above
    // must read the same (replaced files are retained for the window)
    assert(KvCommands.compactMinor(spark, path) > 0)
    assert(state(path, v1) == Map(1L -> "a", 2L -> "b"))
    assert(state(path, v3) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // and the newest snapshot equals the live table
    val vLast = KvCommands.snapshots(path).last
    assert(state(path, vLast) ==
      KvCommands.table(spark, path).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)

    // filters prune inside a snapshot read too
    assert(KvCommands.tableAsOf(spark, path, v2)
      .filter(col("k") >= 2L).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
  }

  test("fuzz: every retained snapshot replays its historical state") {
    // random upserts / range deletes / compactions with default retention
    // (nothing swept); after the run, EVERY recorded snapshot version
    // must read back exactly the model state at its commit
    val path = Files.createTempDirectory("graftkv_tt_fuzz").toString + "/t"
    val rnd = new scala.util.Random(99)
    val model = scala.collection.mutable.Map.empty[Long, String]
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, String])]
    def batch(): Seq[(Long, String)] =
      Seq.fill(rnd.nextInt(25) + 5)(
        (rnd.nextLong(50), s"v${rnd.nextInt(100000)}"))
        .groupBy(_._1).map(_._2.head).toSeq
    val init = batch()
    init.foreach { case (k, v) => model(k) = v }
    KvCommands.createTable(init.toDF("k", "v"), path, Seq("k"))
    history += KvCommands.snapshots(path).last -> model.toMap
    for (_ <- 0 until 12) {
      rnd.nextInt(6) match {
        case 0 | 1 | 2 =>
          val b = batch()
          b.foreach { case (k, v) => model(k) = v }
          KvCommands.append(b.toDF("k", "v"), path)
        case 3 =>
          val lo = rnd.nextLong(50)
          val hi = lo + rnd.nextLong(15)
          model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
          KvCommands.delete(spark, path, col("k").between(lo, hi))
        case 4 =>
          val lo = rnd.nextLong(50)
          val hi = lo + rnd.nextLong(15)
          model.keys.filter(k => k >= lo && k <= hi).toSeq
            .foreach(k => model(k) = model(k) + "+")
          KvCommands.update(spark, path, col("k").between(lo, hi),
            Map("v" -> concat(col("v"), lit("+"))))
        case 5 =>
          KvCommands.compactMinor(spark, path) // default retention: keeps history
      }
      history += KvCommands.snapshots(path).last -> model.toMap
    }
    history.foreach { case (v, st) =>
      assert(state(path, v) == st, s"snapshot $v diverged from its history")
    }

    // snapshotDiff between random version pairs must equal the model delta
    for (_ <- 0 until 8) {
      val i = rnd.nextInt(history.size); val j = rnd.nextInt(history.size)
      val (va, sa) = history(math.min(i, j))
      val (vb, sb) = history(math.max(i, j))
      val got = KvCommands.snapshotDiff(spark, path, va, vb).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.getString(2)), Option(r.getString(3)))))
        .toMap
      val want = (sa.keySet ++ sb.keySet).flatMap { k =>
        (sa.get(k), sb.get(k)) match {
          case (None, Some(nv)) => Some(k -> (("added", None, Some(nv))))
          case (Some(ov), None) => Some(k -> (("removed", Some(ov), None)))
          case (Some(ov), Some(nv)) if ov != nv =>
            Some(k -> (("updated", Some(ov), Some(nv))))
          case _ => None
        }
      }.toMap
      assert(got == want, s"diff $va -> $vb diverged from the model delta")
    }
  }

  test("VERSION AS OF through the catalog; snapshots are read-only and expire") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.tt")
    spark.sql("CREATE TABLE graft_tt.tt.h (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft_tt.tt.h VALUES (1, 'x')")
    spark.sql("INSERT INTO graft_tt.tt.h VALUES (2, 'y')")

    val path = spark.conf.get("spark.sql.catalog.graft_tt.root") + "/tt/h"
    val vs = KvCommands.snapshots(path)
    assert(vs.size >= 3) // empty seed + one version per INSERT
    // the catalog seeds version 1 as the EMPTY table (manifest-governed
    // from birth) — it is a readable snapshot like any other
    assert(spark.sql(s"SELECT * FROM graft_tt.tt.h VERSION AS OF ${vs.head}")
      .count() == 0)
    val before = spark.sql(
      s"SELECT * FROM graft_tt.tt.h VERSION AS OF ${vs(vs.size - 2)}")
      .collect().map(_.getLong(0)).toSeq
    assert(before == Seq(1L))
    val now = spark.sql(s"SELECT * FROM graft_tt.tt.h VERSION AS OF ${vs.last}")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(now == Seq(1L, 2L))

    // unknown version fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_tt.tt.h VERSION AS OF 999999").collect()
    }
    assert(e.getMessage.contains("no snapshot") || e.getMessage.contains("999999"))

    // expiry: a zero-retention sweep prunes all but the newest snapshot
    KvCommands.compactMinor(spark, path, minGroup = 2, retainReplacedMs = 0L)
    KvCommands.sweepUnmanifested(path, olderThanMs = 0L)
    assert(KvCommands.snapshots(path).size == 1)
  }

  test("TIMESTAMP AS OF resolves to the newest snapshot at or before the clock") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.ta")
    spark.sql("CREATE TABLE graft_tt.ta.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft_tt.ta.t VALUES (1, 'x')")
    Thread.sleep(1100) // snapshot mtimes are millis; leave a clear gap
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql("INSERT INTO graft_tt.ta.t VALUES (2, 'y')")

    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC")) // session TZ
    val tsLit = fmt.format(new java.util.Date(betweenMs))
    val asOf = spark.sql(
      s"SELECT k FROM graft_tt.ta.t TIMESTAMP AS OF '$tsLit'")
      .collect().map(_.getLong(0)).toSeq
    assert(asOf == Seq(1L), s"expected pre-second-insert state, got $asOf")
    // a timestamp before the first commit has no consistent view
    val e = intercept[Exception] {
      spark.sql("SELECT k FROM graft_tt.ta.t TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no graftkv snapshot"))
  }

  test("regressions: snapshot streams refuse; drop clears history; tombstone overwrite fails") {
    val path = Files.createTempDirectory("graftkv_tt_reg").toString + "/t"
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    KvCommands.append(Seq((2L, "b")).toDF("k", "v"), path)

    // a snapshot is frozen — streaming it must fail loudly, not silently
    // stream the live table
    val e1 = intercept[Exception] {
      spark.readStream.format("graftkv")
        .option("snapshot.version", "1").load(path)
        .writeStream.format("memory").queryName("tt_reg_refused")
        .option("checkpointLocation",
          Files.createTempDirectory("graftkv_tt_regckpt").toString)
        .start().processAllAvailable()
    }
    assert(e1.toString.contains("frozen") ||
      Option(e1.getCause).exists(_.toString.contains("frozen")))

    // dropping a table must drop its commit log: the recreated table
    // starts a fresh history instead of inheriting unreadable versions
    KvCommands.dropTable(path)
    KvCommands.createTable(Seq((9L, "z")).toDF("k", "v"), path, Seq("k"))
    assert(KvCommands.snapshots(path) == Seq(1L))

    // delete markers + overwrite is a contradiction — refused
    val e2 = intercept[Exception] {
      Seq(9L).toDF("k").write.format("graftkv")
        .option("tombstone", "true").mode("overwrite").save(path)
    }
    assert(e2.toString.contains("tombstone") ||
      Option(e2.getCause).exists(_.toString.contains("tombstone")))
  }

  test("an overwrite keeps the previous version readable and restorable") {
    // path API: createTable onto a populated table is an overwrite
    val path = Files.createTempDirectory("graftkv_tt_ow").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      Seq("k"))
    KvCommands.append(Seq((3L, "c")).toDF("k", "v"), path)
    val before = KvCommands.snapshots(path).last
    KvCommands.createTable(Seq((7L, "x")).toDF("k", "v"), path, Seq("k"))
    assert(state(path, KvCommands.snapshots(path).last) == Map(7L -> "x"))
    assert(state(path, before) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    KvCommands.restoreTable(path, before)
    assert(KvCommands.table(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))

    // SQL: INSERT OVERWRITE through the catalog, then VERSION AS OF and
    // RESTORE of the overwritten version
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.ow")
    val t = "graft_tt.ow.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, NULL)")
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    val tPath = spark.conf.get("spark.sql.catalog.graft_tt.root") + "/ow/t"
    val v = KvCommands.snapshots(tPath).last
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 'z')")
    def ks(sql: String): Seq[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).toSeq.sorted
    assert(ks(s"SELECT k FROM $t") == Seq(9L))
    assert(ks(s"SELECT k FROM $t VERSION AS OF $v") == Seq(1L, 2L, 3L))
    // the overwrite's literals do not tighten v to NOT NULL: the
    // previous version's NULL reads back, and a NULL still inserts
    assert(ks(s"SELECT k FROM $t VERSION AS OF $v WHERE v IS NULL") == Seq(2L))
    spark.sql(s"INSERT INTO $t VALUES (10, NULL)")
    assert(ks(s"SELECT k FROM $t WHERE v IS NULL") == Seq(10L))
    spark.sql(s"RESTORE TABLE $t TO VERSION AS OF $v")
    assert(ks(s"SELECT k FROM $t") == Seq(1L, 2L, 3L))
    spark.sql(s"DROP TABLE $t")
  }

  test("a snapshot decodes with its own declaration across a type change") {
    val path = Files.createTempDirectory("graftkv_tt_type").toString + "/t"
    KvCommands.createTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, Seq("k"))
    val v1 = KvCommands.snapshots(path).last
    KvCommands.createTable(Seq((1, 10), (2, 20)).toDF("k", "v"), path, Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getInt(0), r.get(1))).toSeq
    assert(rows(KvCommands.table(spark, path)) == Seq((1, 10), (2, 20)))
    assert(rows(KvCommands.tableAsOf(spark, path, v1)) == Seq((1, "a"), (2, "b")))
    // RESTORE brings the declaration back with the files
    KvCommands.restoreTable(path, v1)
    assert(GraftKvMeta.read(path).get.schema("v").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(rows(KvCommands.table(spark, path)) == Seq((1, "a"), (2, "b")))
  }

  test("snapshotDiff decodes each side with its own declaration") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.sd")
    spark.sql("CREATE TABLE graft_tt.sd.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft_tt.sd.t VALUES (1, 'a'), (2, 'b')")
    val path = spark.conf.get("spark.sql.catalog.graft_tt.root") + "/sd/t"
    def diff(from: Long) =
      KvCommands.snapshotDiff(spark, path, from, KvCommands.snapshots(path).last)
        .orderBy("k").collect().map(_.toSeq).toSeq
    val vBefore = KvCommands.snapshots(path).last
    spark.sql("ALTER TABLE graft_tt.sd.t ADD COLUMN w INT")
    assert(KvCommands.snapshots(path).last > vBefore)
    // the older side lacks w: it reads NULL there, so the ALTER alone
    // changes no row
    assert(diff(vBefore).isEmpty)
    spark.sql("INSERT INTO graft_tt.sd.t VALUES (2, 'b', 5), (3, 'c', NULL)")
    // columns: k, change, old_v, new_v, old_w, new_w
    assert(diff(vBefore) == Seq(
      Seq(2L, "updated", "b", "b", null, 5),
      Seq(3L, "added", null, "c", null, null)))

    // across a type change the values compare by their string form
    val p2 = Files.createTempDirectory("graftkv_tt_difftype").toString + "/t"
    KvCommands.createTable(Seq((1L, "10"), (2L, "b")).toDF("k", "v"), p2, Seq("k"))
    val s1 = KvCommands.snapshots(p2).last
    KvCommands.createTable(Seq((1L, 10), (2L, 20)).toDF("k", "v"), p2, Seq("k"))
    assert(KvCommands.snapshotDiff(spark, p2, s1, KvCommands.snapshots(p2).last)
      .collect().map(_.toSeq).toSeq == Seq(Seq(2L, "updated", "b", 20)))
    spark.sql("DROP TABLE graft_tt.sd.t")
  }

  test("SHOW SNAPSHOTS lists the commit log; pure-SQL time travel") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.ss")
    spark.sql("CREATE TABLE graft_tt.ss.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft_tt.ss.t VALUES (1, 'a')")
    spark.sql("INSERT INTO graft_tt.ss.t VALUES (2, 'b')")

    val snaps = spark.sql("SHOW SNAPSHOTS FOR graft_tt.ss.t").collect()
    assert(snaps.length == 3) // CREATE's empty seed + one per INSERT
    assert(snaps.map(_.getLong(0)).sorted.toSeq == snaps.map(_.getLong(0)).toSeq)
    assert(snaps.count(_.getBoolean(3)) == 1 && snaps.last.getBoolean(3))
    assert(snaps.head.getInt(2) == 0) // the seed lists zero segments

    // drive time travel entirely from the SHOW output
    val first = snaps(1).getLong(0)
    val got = spark.sql(s"SELECT k FROM graft_tt.ss.t VERSION AS OF $first")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))

    // non-graft targets keep Spark's own error behavior (no intercept)
    val e = intercept[Exception] {
      spark.sql("SHOW SNAPSHOTS FOR not_a_catalog.db.t").collect()
    }
    assert(e != null)
  }

  test("VACUUM keeps an in-flight snapshot read alive through the retention window") {
    // the long-scan protection contract: a snapshot DataFrame planned
    // BEFORE a compaction must execute correctly AFTER compaction +
    // VACUUM, because replaced segments stay on disk for the window and
    // the sweep must never reclaim files younger than it
    val path = Files.createTempDirectory("graftkv_tt_vac").toString + "/t"
    KvCommands.createTable(spark.range(100)
      .select(col("id").as("k"), concat(lit("g0-"), col("id")).as("v")),
      path, Seq("k"))
    (1 to 3).foreach { g =>
      KvCommands.append(spark.range(100)
        .select(col("id").as("k"), concat(lit(s"g$g-"), col("id")).as("v")),
        path)
    }
    val vOld = KvCommands.snapshots(path).last
    val snap = KvCommands.tableAsOf(spark, path, vOld) // the in-flight read
    assert(KvCommands.compactMinor(spark, path,
      retainReplacedMs = 600000L) > 0)
    KvCommands.sweepUnmanifested(path, olderThanMs = 600000L) // VACUUM
    // the pre-compaction snapshot still reads in full
    assert(snap.count() === 100L)
    assert(snap.filter(col("v").startsWith("g3-")).count() === 100L)
  }

  test("compaction + VACUUM under a lagging paced stream: final values all arrive, reader never breaks") {
    // a reader paced one commit per micro-batch lags behind a 13-commit
    // backlog; a compaction (which collapses superseded versions) and a
    // retention-window VACUUM land while it drains. The change feed is
    // documented at-least-once across a compaction that crosses the
    // offset; what must hold is: the reader never crashes on swept
    // files, and every key's FINAL value is delivered.
    val path = Files.createTempDirectory("graftkv_tt_vacstream").toString + "/t"
    KvCommands.createTable(spark.range(30)
      .select(col("id").as("k"), concat(lit("g0-"), col("id")).as("v")),
      path, Seq("k"))
    (1 to 12).foreach { g =>
      KvCommands.append(spark.range(30)
        .select(col("id").as("k"), concat(lit(s"g$g-"), col("id")).as("v")),
        path)
    }
    val q = spark.readStream.format("graftkv")
      .option("maxFilesPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("kv_vac_lag")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_tt_vacstream_ckpt").toString)
      .start()
    try {
      // reorganize + vacuum while the paced reader is mid-backlog
      KvCommands.compactMinor(spark, path, retainReplacedMs = 600000L)
      KvCommands.sweepUnmanifested(path, olderThanMs = 600000L)
      q.processAllAvailable()
      val got = spark.table("kv_vac_lag")
        .as[(Long, String)].collect().toSeq
      // every key delivered its final (g12) value — compaction may
      // re-emit or collapse intermediates for a lagging reader, but the
      // current state must always arrive
      val finals = got.filter(_._2.startsWith("g12-")).toSet
      assert(finals === (0L until 30L).map(k => (k, s"g12-$k")).toSet)
    } finally q.stop()
  }

  test("VACUUM never reclaims segments a retained snapshot lists; snapshot and files expire together") {
    // liveness is manifest-driven, not mtime-driven: a segment is
    // arbitrarily older than the snapshots that list it (written at t0,
    // compacted away at t0+3d, snapshot still retained), so an old file
    // mtime alone must never make a snapshot-referenced file sweepable.
    // The file becomes reclaimable exactly when its last referencing
    // manifest expires — at which point VERSION AS OF fails with "no
    // snapshot", never "missing segment files".
    val path = Files.createTempDirectory("graftkv_tt_vacret").toString + "/t"
    KvCommands.createTable(spark.range(50)
      .select(col("id").as("k"), lit("a").as("v")), path, Seq("k"))
    KvCommands.append(spark.range(50)
      .select(col("id").as("k"), lit("b").as("v")), path)
    val vOld = KvCommands.snapshots(path).last
    assert(KvCommands.compactMinor(spark, path,
      retainReplacedMs = 600000L) > 0)
    // age the replaced (unmanifested-from-current) segment files far past
    // the window — vOld's manifest is young and still lists them
    val live = graft.store.SegmentFile.readManifest(path).get
    val old = System.currentTimeMillis() - 3600_000L
    Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".kv") && !live.contains(n))
      .foreach { n =>
        new java.io.File(path, n).setLastModified(old)
        new java.io.File(path, n.stripSuffix(".kv") + ".kvmeta")
          .setLastModified(old)
      }
    assert(KvCommands.sweepUnmanifested(path, olderThanMs = 600000L) === 0)
    // the retained snapshot still reads in full
    assert(KvCommands.tableAsOf(spark, path, vOld)
      .filter(col("v") === "b").count() === 50L)
    // expire the old snapshot manifests too (newest is always kept):
    // their exclusive files become reclaimable in the same sweep
    Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("_graft_segments.v"))
      .sortBy(n => n.stripPrefix("_graft_segments.v").toLong)
      .dropRight(1)
      .foreach(n => new java.io.File(path, n).setLastModified(old))
    assert(KvCommands.sweepUnmanifested(path, olderThanMs = 600000L) > 0)
    val e = intercept[IllegalArgumentException](
      KvCommands.tableAsOf(spark, path, vOld).count())
    assert(e.getMessage.contains("no snapshot"))
    // the live table is untouched by all of the above
    assert(KvCommands.table(spark, path).filter(col("v") === "b").count() === 50L)
  }

  test("a snapshot whose files were lost out-of-band fails loudly, never silently partial") {
    // VACUUM can no longer produce this state (retained ⇒ live); it
    // covers external deletion / a lost disk. Reads and RESTORE must
    // fail at planning with the file names, not return partial rows.
    val path = Files.createTempDirectory("graftkv_tt_vacres").toString + "/t"
    KvCommands.createTable(spark.range(50)
      .select(col("id").as("k"), lit("a").as("v")), path, Seq("k"))
    KvCommands.append(spark.range(50)
      .select(col("id").as("k"), lit("b").as("v")), path)
    val vOld = KvCommands.snapshots(path).last
    assert(KvCommands.compactMinor(spark, path,
      retainReplacedMs = 600000L) > 0)
    // delete the replaced segment files out-of-band (vOld still lists them)
    val live = graft.store.SegmentFile.readManifest(path).get
    Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".kv") && !live.contains(n))
      .foreach { n =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(path, n))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(path, n.stripSuffix(".kv") + ".kvmeta"))
      }
    def sweptError(body: => Any): Unit = {
      val e = intercept[Throwable](body)
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("swept"), s"expected a loud swept-segments error, got: $msgs")
    }
    sweptError(KvCommands.tableAsOf(spark, path, vOld).count())
    sweptError(KvCommands.restoreTable(path, vOld))
    // the live table is untouched by all of the above
    assert(KvCommands.table(spark, path).filter(col("v") === "b").count() === 50L)
  }

  test("update assigns non-key columns via upsert append, keys guarded") {
    val path = Files.createTempDirectory("graftkv_upd").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      Seq("k"))
    KvCommands.update(spark, path, col("k") === 1L, Map("v" -> lit("a2")))
    assert(KvCommands.table(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 2L -> "b"))
    intercept[IllegalArgumentException] {
      KvCommands.update(spark, path, lit(true), Map("k" -> lit(9L)))
    }
    intercept[IllegalArgumentException] {
      KvCommands.update(spark, path, lit(true), Map("nope" -> lit("x")))
    }
  }

  test("update evaluates every assignment against the OLD row (swap)") {
    val path = Files.createTempDirectory("graftkv_swap").toString + "/t"
    KvCommands.createTable(Seq((1L, 10L, 20L)).toDF("k", "a", "b"), path,
      Seq("k"))
    KvCommands.update(spark, path, col("k") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val r = KvCommands.table(spark, path).collect().head
    assert((r.getLong(1), r.getLong(2)) == ((20L, 10L)),
      "SET a = b, b = a must swap, not chain")
  }

  test("snapshotDiff tags added, removed, and updated rows") {
    val path = Files.createTempDirectory("graftkv_diff").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      Seq("k"))
    val v1 = KvCommands.snapshots(path).last
    KvCommands.append(Seq((3L, "c")).toDF("k", "v"), path)  // added
    KvCommands.append(Seq((2L, "b2")).toDF("k", "v"), path) // updated (Put)
    KvCommands.delete(spark, path, col("k") === 1L)         // removed
    val vN = KvCommands.snapshots(path).last

    val diff = KvCommands.snapshotDiff(spark, path, v1, vN).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(diff == Map(
      1L -> (("removed", "a", null)),
      2L -> (("updated", "b", "b2")),
      3L -> (("added", null, "c"))))

    // a version diffed against itself is empty, and the diff survives
    // compaction (it reads snapshots, not the live layout)
    assert(KvCommands.snapshotDiff(spark, path, v1, v1).count() == 0)
    KvCommands.compactMinor(spark, path)
    assert(KvCommands.snapshotDiff(spark, path, v1, vN).count() == 3)
  }

  test("VACUUM and DROP reclaim crash-stranded atomic-write temps of " +
      "every name shape") {
    import graft.io.SidecarFs
    val path = Files.createTempDirectory("graftkv_strand").toString + "/t"
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    // strand shapes a crashed atomic write / CAS leaves behind —
    // including the two the old hand-kept prefix lists missed: the
    // versioned-manifest CAS temp (`.v<N>` between stem and `.tmp-`)
    // and the DOUBLE-dotted temp of an already-dotted marker name
    val strands = Seq(
      "._graft_segments.v3.tmp-ab12cd34",
      ".._graft_epoch-q-1.intent.tmp-ab12cd34",
      ".._graft_maint_lease.tmp-ab12cd34",
      "._graft_vhead.tmp-ab12cd34",
      "._graft_stats.tmp-ab12cd34")
    def plant(): Unit = strands.foreach { n =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, n), Array[Byte](1, 2, 3)): Unit
    }
    def present(): Set[String] = SidecarFs.list(path).toSet
    // the recognizer must never claim live control/data files
    Seq("_graft_vhead", "_graft_segments.v1",
        "._graft_epoch-q-1.intent", "seg-0.kv").foreach { live =>
      assert(!SidecarFs.isTempArtifact(live), live)
    }
    strands.foreach(n => assert(SidecarFs.isTempArtifact(n), n))

    plant()
    // fresh temps survive an aged sweep: they may belong to a LIVE
    // concurrent writer mid-publish
    KvCommands.sweepUnmanifested(path, olderThanMs = 600_000L)
    assert(strands.forall(present().contains))
    // an expired sweep reclaims every strand and keeps the table whole
    KvCommands.sweepUnmanifested(path, olderThanMs = 0L)
    assert(strands.forall(!present().contains(_)))
    assert(KvCommands.table(spark, path).count() == 1)

    // DROP reclaims them age-independently and the dir itself goes
    plant()
    KvCommands.dropTable(path)
    assert(!SidecarFs.exists(path))
  }
}
