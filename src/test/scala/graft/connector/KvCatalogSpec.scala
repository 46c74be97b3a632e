package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's SQL DDL/DML surface (SURVEY §2.8 O1-O7) through the
  * graftkv TableCatalog plugin, driven entirely with spark.sql. */
class KvCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftKvCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      Files.createTempDirectory("graft_catalog").toString)
    s
  }

  test("CREATE / INSERT / SELECT / SHOW / DESCRIBE / ALTER / DROP via SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql(
      "CREATE TABLE graft.db.t (k BIGINT, v STRING, d DOUBLE) TBLPROPERTIES ('key'='k')")

    // O6: INSERT VALUES; O7: INSERT SELECT
    spark.sql("INSERT INTO graft.db.t VALUES (2, 'b', 2.5), (1, 'a', 1.0)")
    spark.sql("INSERT INTO graft.db.t SELECT 3, 'c', 3.5")

    val rows = spark.sql("SELECT k, v, d FROM graft.db.t ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c"))

    // filter through the connector (pruning path) via SQL
    assert(spark.sql("SELECT v FROM graft.db.t WHERE k = 2").head().getString(0) == "b")

    // O4 / O5
    val tables = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1))
    assert(tables.contains("t"))
    val desc = spark.sql("DESCRIBE TABLE graft.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("k") == "bigint" && desc("v") == "string")

    // INSERT OVERWRITE (beyond-reference freebie; reference rejects overwrite)
    spark.sql("INSERT OVERWRITE graft.db.t VALUES (9, 'z', 0.0)")
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.t").head().getLong(0) == 1L)

    // O3: ALTER is metadata-only but works on empty tables too
    spark.sql("CREATE TABLE graft.db.t2 (k BIGINT, a STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("ALTER TABLE graft.db.t2 ADD COLUMN b INT")
    spark.sql("ALTER TABLE graft.db.t2 DROP COLUMN a")
    val cols = spark.sql("DESCRIBE TABLE graft.db.t2").collect().map(_.getString(0))
    assert(cols.contains("b") && !cols.contains("a"))

    // O2
    spark.sql("DROP TABLE graft.db.t")
    spark.sql("DROP TABLE graft.db.t2")
    assert(spark.sql("SHOW TABLES IN graft.db").collect().isEmpty)
  }

  test("SHOW TABLES lists a table whose head hint was never written") {
    // the hint is best-effort and written after the commit: a crash in
    // between leaves a published table with no hint
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.nohint")
    spark.sql("CREATE TABLE graft.nohint.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    val dir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftKvCatalog]
      .tableDir(org.apache.spark.sql.connector.catalog.Identifier.of(Array("nohint"), "t"))
    Files.delete(java.nio.file.Paths.get(dir, "_graft_vhead"))
    assert(spark.sql("SHOW TABLES IN graft.nohint").collect()
      .map(_.getString(1)).toSeq == Seq("t"))
    spark.sql("DROP TABLE graft.nohint.t")
  }

  test("ALTER TABLE on a POPULATED table: old segments decode with their own layout") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.live (k BIGINT, a STRING, x DOUBLE) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.db.live VALUES (1, 'one', 1.5), (2, 'two', 2.5)")

    // metadata-only ADD on a live table: existing rows read null for b
    spark.sql("ALTER TABLE graft.db.live ADD COLUMN b INT")
    val afterAdd = spark.sql("SELECT k, a, x, b FROM graft.db.live ORDER BY k").collect()
    assert(afterAdd.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(afterAdd.map(_.getString(1)).toSeq == Seq("one", "two"))
    assert(afterAdd.map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
    assert(afterAdd.forall(_.isNullAt(3)))

    // new writes carry the new layout; both generations read side by side
    spark.sql("INSERT INTO graft.db.live VALUES (3, 'three', 3.5, 30)")
    val mixed = spark.sql("SELECT k, b FROM graft.db.live ORDER BY k").collect()
    assert(mixed.map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq == Seq(-1, -1, 30))

    // DROP on a live table: the column disappears; old segments that
    // still store it simply stop projecting it
    spark.sql("ALTER TABLE graft.db.live DROP COLUMN a")
    val afterDrop = spark.sql("SELECT k, x, b FROM graft.db.live ORDER BY k").collect()
    assert(afterDrop.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 3.5))
    assert(!spark.sql("DESCRIBE TABLE graft.db.live").collect()
      .map(_.getString(0)).contains("a"))

    // key columns stay immutable
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.live DROP COLUMN k")
    }
    assert(e.getMessage.toLowerCase.contains("key") ||
      e.getCause != null && e.getCause.getMessage.toLowerCase.contains("key"))

    // compaction rewrites everything into the current layout (path from
    // the live catalog instance — the conf may have been re-pointed by
    // another suite sharing the session, but the cached catalog has not)
    val dir = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftKvCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "live"))
      .name().stripPrefix("graftkv:")
    KvCommands.compact(spark, dir)
    val compacted = spark.sql("SELECT k, x, b FROM graft.db.live ORDER BY k").collect()
    assert(compacted.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 3.5))
    assert(compacted.map(r => if (r.isNullAt(2)) -1 else r.getInt(2)).toSeq == Seq(-1, -1, 30))

    spark.sql("DROP TABLE graft.db.live")
  }

  test("SQL DELETE FROM goes through tombstones") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.del (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.db.del VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    spark.sql("DELETE FROM graft.db.del WHERE k = 2 OR v = 'd'")
    val left = spark.sql("SELECT k, v FROM graft.db.del ORDER BY k").collect()
    assert(left.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c")))
    // deleted keys can be re-inserted (newer generation beats tombstone)
    spark.sql("INSERT INTO graft.db.del VALUES (2, 'b2')")
    assert(spark.sql("SELECT v FROM graft.db.del WHERE k = 2").head().getString(0) == "b2")
    spark.sql("DROP TABLE graft.db.del")
  }

  test("stale zone stats never prune after a column type change") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.zs (k BIGINT, z BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.db.zs VALUES (1, 10), (2, 20), (3, 30)")
    // the segment's sidecar now carries a LongType zone claim for z;
    // change z's type — old segments project z as null from here on
    spark.sql("ALTER TABLE graft.db.zs DROP COLUMN z")
    spark.sql("ALTER TABLE graft.db.zs ADD COLUMN z DOUBLE")
    // the stale stat must not bind: IS NULL has to see every old row
    // (an unfixed prune would decide IsNull(z) = False from the claim)
    val nulls = spark.sql("SELECT k FROM graft.db.zs WHERE z IS NULL ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(nulls == Seq(1L, 2L, 3L),
      s"type-changed column must read as null everywhere, got $nulls")
    // and a typed comparison against the NEW type must not throw or
    // mis-prune either (old segments contribute nothing non-null)
    assert(spark.sql("SELECT count(*) AS c FROM graft.db.zs WHERE z > 5.0")
      .head().getLong(0) == 0L)
    spark.sql("DROP TABLE graft.db.zs")
  }

  test("CTAS creates and loads a kv table") {
    // orders' composite (o_orderkey, o_custkey) is genuinely unique, so
    // the CTAS row count survives Put-upsert key resolution verbatim
    // (lineitem's natural key is not unique in the synthetic corpus)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    spark.sql(
      s"""CREATE TABLE graft.db2.ord TBLPROPERTIES ('key'='o_orderkey,o_custkey') AS
         |SELECT o_orderkey, o_custkey, o_totalprice
         |FROM parquet.`${TestSpark.sf}/orders.parquet` WHERE o_orderkey < 100""".stripMargin)
    val n = spark.sql("SELECT count(*) AS c FROM graft.db2.ord").head().getLong(0)
    val exp = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .filter("o_orderkey < 100").count()
    assert(n == exp)
    spark.sql("DROP TABLE graft.db2.ord")
  }

  test("COMPACT TABLE statement: minor repairs overlap, MAJOR rewrites") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbc")
    spark.sql(
      "CREATE TABLE graft.dbc.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    // three overlapping commits (each spans the key domain)
    for (i <- 1 to 3)
      spark.sql(s"INSERT INTO graft.dbc.t VALUES (1, 'a$i'), (50, 'z$i')")
    // resolve through the CACHED catalog instance — conf may have been
    // re-set by another suite after the instance was created
    val (plugin, rest) = org.apache.spark.sql.graftbridge.catalogAndRest(
      spark, Seq("graft", "dbc", "t"))
    val path = plugin.asInstanceOf[GraftKvCatalog].tableDir(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        rest.dropRight(1).toArray, rest.last))
    assert(KvCommands.overlapDepth(path) >= 3)

    val minor = spark.sql("COMPACT TABLE graft.dbc.t").head().getInt(0)
    assert(minor >= 3, s"minor must rewrite the overlap group, got $minor")
    assert(KvCommands.overlapDepth(path) == 1)
    // Put-upsert truth preserved: the last insert wins per key
    val got = spark.sql("SELECT k, v FROM graft.dbc.t ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a3", 50L -> "z3"))

    val major = spark.sql("COMPACT TABLE graft.dbc.t MAJOR").head().getInt(0)
    assert(major >= 1)
    assert(spark.sql("SELECT count(*) AS c FROM graft.dbc.t").head().getLong(0) == 2)
    spark.sql("DROP TABLE graft.dbc.t")
  }

  test("metadata tables: t.snapshots and t.segments are plain SQL tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbm")
    spark.sql(
      "CREATE TABLE graft.dbm.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.dbm.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.dbm.t VALUES (3, 'c')")

    // the commit log: empty seed + two inserts = 3 snapshots, versions
    // ascending, row totals tracking the appends
    val snaps = spark.sql(
      "SELECT version, n_segments, n_rows FROM graft.dbm.t.snapshots ORDER BY version")
      .collect()
    assert(snaps.length == 3)
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(snaps.last.getLong(2) == 3L) // newest snapshot holds all rows
    assert(snaps.head.getLong(1) == 0L) // catalog seed is empty

    // the segment inventory joins/aggregates like any table
    val segs = spark.sql(
      """SELECT count(*) AS n, sum(rows) AS r, min(min_lead) AS lo
        |FROM graft.dbm.t.segments""".stripMargin).head()
    assert(segs.getLong(1) == 3L)
    assert(segs.getString(2) == "1")
    // and composes with the rest of SQL (join against the data itself)
    val joined = spark.sql(
      """SELECT count(*) FROM graft.dbm.t d
        |JOIN graft.dbm.t.segments s ON CAST(s.min_lead AS BIGINT) <= d.k
        |""".stripMargin).head().getLong(0)
    assert(joined >= 3L)

    // a real table named like a metadata table shadows the metadata path
    spark.sql("CREATE TABLE graft.dbm.snapshots (k BIGINT) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.dbm.snapshots VALUES (42)")
    assert(spark.sql("SELECT k FROM graft.dbm.snapshots").head().getLong(0) == 42L)
    spark.sql("DROP TABLE graft.dbm.snapshots")
    spark.sql("DROP TABLE graft.dbm.t")
  }

  test("OPTIMIZE: plain form compacts; ZORDER BY re-clusters in place") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.zo")
    spark.sql(
      "CREATE TABLE graft.zo.t (k BIGINT, a BIGINT, b BIGINT, v STRING) " +
        "TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.zo.t " +
      "SELECT id, id div 100, id % 100, concat('r', id) FROM range(10000)")
    spark.sql("INSERT INTO graft.zo.t " + // overlap → something to compact
      "SELECT id, id div 100, id % 100, 'upd' FROM range(50)")
    val c = spark.sql("OPTIMIZE graft.zo.t").head()
    assert(c.getString(0) == "compacted" && c.getLong(1) == 10000L)

    val truth = spark.sql(
      "SELECT k, a, b, v FROM graft.zo.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val z = spark.sql("OPTIMIZE graft.zo.t ZORDER BY (a, b)").head()
    assert(z.getString(0) == "zordered(a,b)" && z.getLong(1) == 10000L)
    // every row survives the re-cluster; _z joined the schema
    val after = spark.sql("SELECT k, a, b, v FROM graft.zo.t ORDER BY k")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(after.toSeq == truth.toSeq)
    assert(spark.table("graft.zo.t").columns.contains("_z"))
    // the box predicate now drives z pruning + exact residual semantics
    val box = spark.sql(
      "SELECT count(*) FROM graft.zo.t WHERE a BETWEEN 3 AND 5 AND b < 10")
    assert(box.head().getLong(0) == 30L)
    // the health summary reflects the new clustering
    val dd = spark.sql("DESCRIBE DETAIL graft.zo.t").head()
    assert(dd.getString(dd.fieldIndex("zorder_dims")) == "a, b")
    // dropping a z-order dimension is refused — in this layout the dims
    // joined the composite key ((_z, a, b)), so the key guard fires; the
    // catalog ALSO guards zorder-spec columns directly, defense-in-depth
    // for any layout where a z-dim is not a key (a dangling zorder spec
    // would silently disable z pruning and break _z-deriving appends)
    val zErr = intercept[Exception](
      spark.sql("ALTER TABLE graft.zo.t DROP COLUMN a"))
    assert(zErr.getMessage.contains("key column") ||
      zErr.getMessage.contains("z-order dimension"), zErr.getMessage)
    assert(spark.table("graft.zo.t").columns.contains("a"))
    // derived artifacts key on the old layout: conversion refuses
    spark.sql("CREATE INDEX ia ON TABLE graft.zo.t (v)")
    val err = intercept[Exception](
      spark.sql("OPTIMIZE graft.zo.t ZORDER BY (b, a)"))
    assert(err.getMessage.contains("drop secondary indexes"))
    spark.sql("DROP INDEX ia ON graft.zo.t")
    spark.sql("DROP TABLE graft.zo.t")
  }

  /** The table at `dir` as a fresh process reads it: declaration, head
    * manifest and rows. */
  private def state(dir: String) = {
    graft.store.SegmentFile.clearPlanningCache()
    (GraftKvMeta.read(dir), graft.store.SegmentFile.readHead(dir),
      KvCommands.table(spark, dir).select("k", "a", "b").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  private def kvFiles(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.endsWith(".kv")).toSet

  test("ZORDER conversion killed mid-publish: old table intact / flip finished") {
    // the conversion is one write whose commit is the manifest CAS. A
    // failure anywhere before it — in the dims' stats job, the range
    // sampling job or the write job — leaves the old table: declaration,
    // manifest and rows, and no stray segment. After it, the table is
    // converted, and reading it writes nothing: there is no repair step.
    val dir = java.nio.file.Files.createTempDirectory("zckill").toString + "/t"
    val n = 2000L
    KvCommands.createTable(spark.range(n).select(col("id").as("k"),
      expr("id div 50").as("a"), (col("id") % 50).as("b")), dir, Seq("k"))
    val before = state(dir)
    val files = kvFiles(dir)
    def convert(): Unit = {
      val (v, read) = graft.store.SegmentFile.readHead(dir).get
      KvCommands.relayout(KvCommands.tableAsOf(spark, dir, v)
        .select(col("k"), KvCatalogSpec.failing(col("a")).as("a"), col("b")),
        dir, Seq("a", "b"), graft.store.RowCodec.Binary, read.files)
    }
    // kill points: every evaluation from the k-th on throws
    val killed = Iterator.iterate(1L)(_ + n).map { k =>
      KvCatalogSpec.calls.set(0L)
      KvCatalogSpec.killAt.set(k)
      try { convert(); false }
      catch { case e: Exception if KvCatalogSpec.injected(e) => true }
      finally KvCatalogSpec.killAt.set(Long.MaxValue)
    }.takeWhile(identity).map { _ =>
      assert(state(dir) == before, "a failure before the commit changed the table")
      assert(kvFiles(dir) == files, "an aborted conversion left segments behind")
    }.length
    assert(killed >= 3, s"only $killed kill points fired before the commit")
    // the last round ran to its commit: the converted table
    val (meta, head, rows) = state(dir)
    assert(meta.get.keys == Seq("_z", "a", "b") && meta.get.zorder.map(_.name) ==
      Seq("a", "b"))
    assert(rows == before._3)
    assert(head.get._1 == before._2.get._1 + 1, "the conversion is one commit")
    def listing() = new java.io.File(dir).listFiles().map(f =>
      f.getName -> f.lastModified()).toSet
    val published = listing()
    assert(state(dir)._3 == rows && GraftKvMeta.read(dir) == meta)
    assert(listing() == published, "reading the converted table wrote files")
    assert(KvCommands.table(spark, dir)
      .filter(col("a") === 3 && col("b") < 10).count() == 10L)
    KvCommands.dropTable(dir)
  }

  test("SHOW TBLPROPERTIES reports the layout + persisted properties") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.props")
    spark.sql("CREATE TABLE graft.props.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('key'='k', 'stringzone.maxchars'='100', " +
      "'segment.maxbytes'='65536')")
    spark.sql("INSERT INTO graft.props.t VALUES (1, 'a')")
    val props = spark.sql("SHOW TBLPROPERTIES graft.props.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("key") == "k", props)
    assert(props("encoding") == "binary", props)
    assert(props(GraftKvMeta.StringZoneMaxCharsProp) == "100", props)
    assert(props(GraftKvMeta.SegmentMaxBytesProp) == "65536", props)
    spark.sql("DROP TABLE graft.props.t")
  }

  test("a commit racing the conversion ABORTS it — no rows lost either way") {
    // an append lands while the conversion's jobs run, between its read
    // and its manifest CAS: the CAS expectation (live == the set the
    // conversion read) fails, the conversion aborts loudly, and the
    // table keeps BOTH its original rows and the concurrent append
    val dir = java.nio.file.Files
      .createTempDirectory("zcrace").toString + "/t"
    KvCommands.createTable(
      spark.range(400).select(col("id").as("k"),
        expr("id div 20").as("a"), (col("id") % 20).as("b")),
      dir, Seq("k"))
    val (v, read) = graft.store.SegmentFile.readHead(dir).get
    // the append is a job of its own: it runs on a thread started here,
    // outside the conversion's task (whose SQL execution it cannot nest in)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    pool.submit(new Runnable { def run(): Unit = () }).get()
    KvRewriteSpec.rival.set(() => pool.submit(new Runnable {
      def run(): Unit = KvCommands.append(
        spark.range(400, 410).select(col("id").as("k"),
          expr("id div 20").as("a"), (col("id") % 20).as("b")), dir)
    }).get(): Unit)
    val fire = org.apache.spark.sql.functions.udf { (a: Long) =>
      Option(KvRewriteSpec.rival.getAndSet(null)).foreach(_())
      a
    }.asNondeterministic()
    val err = intercept[IllegalStateException](KvCommands.relayout(
      KvCommands.tableAsOf(spark, dir, v)
        .select(col("k"), fire(col("a")).as("a"), col("b")),
      dir, Seq("a", "b"), graft.store.RowCodec.Binary, read.files))
    pool.shutdown()
    assert(KvRewriteSpec.rival.get() == null, "the rival commit never ran")
    assert(err.getMessage.contains("concurrent commit"), err.getMessage)
    // nothing lost, nothing half-converted: the append is the only
    // commit since the read, and no conversion segment is left
    val (m, head, rows) = state(dir)
    assert(m.get.keys == Seq("k"), "aborted conversion changed the key layout")
    assert(head.get._1 == v + 1)
    assert(rows.length == 410)
    assert(kvFiles(dir) == head.get._2.files)
    // and a clean retry over the merged table completes
    assert(KvCommands.convertToZOrder(spark, dir, Seq("a", "b")) == 410L)
    assert(KvCommands.table(spark, dir)
      .filter(col("a") === 20).count() == 10L) // the raced-in rows
    KvCommands.dropTable(dir)
  }

  test("DESCRIBE DETAIL: one-row health summary honoring the rows gate") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dd")
    spark.sql(
      "CREATE TABLE graft.dd.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("INSERT INTO graft.dd.t SELECT id, 'a' FROM range(1000)")
    // an overlapping upsert: physical counts stop being the live count
    spark.sql("INSERT INTO graft.dd.t SELECT id, 'b' FROM range(10)")
    val d1 = spark.sql("DESCRIBE DETAIL graft.dd.t").head()
    assert(d1.getString(d1.fieldIndex("encoding")) == "binary")
    assert(d1.getString(d1.fieldIndex("key_columns")) == "k")
    assert(d1.isNullAt(d1.fieldIndex("zorder_dims")))
    assert(d1.getLong(d1.fieldIndex("num_segments")) >= 2)
    assert(d1.isNullAt(d1.fieldIndex("live_rows")),
      "overlapping generations must gate the live-rows claim to NULL")
    assert(d1.getInt(d1.fieldIndex("overlap_depth")) >= 2)
    assert(d1.getLong(d1.fieldIndex("num_snapshots")) >= 2)
    // compaction restores the exact claim and flattens the overlap
    spark.sql("COMPACT TABLE graft.dd.t MAJOR")
    val d2 = spark.sql("DESC DETAIL graft.dd.t").head()
    assert(d2.getLong(d2.fieldIndex("live_rows")) == 1000L)
    assert(d2.getInt(d2.fieldIndex("overlap_depth")) <= 1)
    assert(d2.getLong(d2.fieldIndex("tombstones")) == 0L)
    assert(d2.getLong(d2.fieldIndex("size_bytes")) > 0L)
    // derived artifacts count
    spark.sql("CREATE INDEX iv ON TABLE graft.dd.t (v)")
    spark.sql("CREATE MATERIALIZED VIEW mv ON TABLE graft.dd.t GROUP BY v")
    val d3 = spark.sql("DESCRIBE DETAIL graft.dd.t").head()
    assert(d3.getLong(d3.fieldIndex("num_indexes")) == 1L)
    assert(d3.getLong(d3.fieldIndex("num_mat_views")) == 1L)
    // Spark's own DESCRIBE statements are untouched by the interceptor
    assert(spark.sql("DESCRIBE TABLE graft.dd.t").collect().nonEmpty)
    spark.sql("DROP TABLE graft.dd.t")
  }
}

object KvCatalogSpec {
  /** Kill switch for the conversion's jobs: every evaluation from the
    * `killAt`-th on throws. */
  val calls = new java.util.concurrent.atomic.AtomicLong()
  val killAt = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
  private val Killed = "injected conversion failure"
  val failing = org.apache.spark.sql.functions.udf { (a: Long) =>
    if (calls.incrementAndGet() >= killAt.get()) throw new RuntimeException(Killed)
    a
  }.asNondeterministic()

  def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(Killed)))
}
