package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Secondary indexes (KvIndex + KvIndexRule): version-gated correctness,
  * incremental CDC refresh, and the semi-join rewrite reaching the base
  * scan as a runtime IN. */
class KvIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graftkv_idx_$tag").toString + "/t"

  /** Base fixture: 20k rows, several segments, value column `v`
    * CLUSTERED with the key (v = k div 2000, so one v value lives in
    * ~1/10th of the key domain — the case where index-driven runtime
    * pruning visibly drops segments) and some NULLs. */
  private def mkBase(path: String): Unit = {
    val df = spark.range(20000).select(col("id").as("k"),
      when(col("id") % 100 === 7, lit(null))
        .otherwise(expr("id div 2000")).as("v"),
      (col("id") * 2).as("w"))
    df.write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "65536")
      .mode("overwrite").save(path)
  }

  private def kvScans(p: SparkPlan): Seq[GraftKvScan] =
    graft.PlanTestUtils.kvScans(p)

  private def hasSemiJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }.nonEmpty

  /** Did the plan touch the index at all — semi-join acceleration or a
    * covering substitution? */
  private def usesIndex(df: DataFrame): Boolean =
    kvScans(df.queryExecution.executedPlan)
      .exists(_.description().contains("/_index/"))

  test("index lookup equals full scan, and the rewrite prunes the base scan") {
    val path = tmpDir("basic")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    assert(KvIndex.inSync(path, KvIndex.get(path, "iv").get))

    val t = KvCommands.table(spark, path)
    val q = t.filter(col("v") === 3).orderBy("k")
    assert(hasSemiJoin(q), "rewrite did not fire on an in-sync index")
    val viaIndex = q.collect()

    spark.conf.set("spark.graft.index.rewrite", "false")
    val direct = try t.filter(col("v") === 3).orderBy("k").collect()
    finally spark.conf.set("spark.graft.index.rewrite", "true")
    assert(viaIndex.toSeq == direct.toSeq)
    assert(viaIndex.length == 1980) // ids 6000..7999 minus the 20 nulls

    // the semi-join's pk values must reach the base scan as a runtime
    // IN and prune segments (the DPP machinery, not a full-table scan)
    val scans = kvScans(q.queryExecution.executedPlan)
      .filter(_.runtimePartitionCount.isDefined)
    assert(scans.nonEmpty, "runtime filter never reached the base scan")
    scans.foreach(s => assert(
      s.runtimePartitionCount.get < s.staticPartitionCount,
      s"no pruning: ${s.staticPartitionCount} -> ${s.runtimePartitionCount.get}"))
  }

  test("round-12 DPP hygiene: index-side scans decline runtime filters;" +
      " the base-side DPP is real, not a degenerate true") {
    // Spark's PartitionPruning used to inject a speculative REVERSE
    // DPP onto the rewrite's index relation (onlyInBroadcast=true),
    // which degenerated to dynamicpruningexpression(true) at execution
    // — a dead subquery plus a planner WARN per run. The auxiliary
    // relations now opt out via runtime.filtering=false, and the
    // rule's own base-side DPP must still be a live IN subquery.
    import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
    val path = tmpDir("dppclean")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val q = KvCommands.table(spark, path).filter(col("v") === 3).orderBy("k")
    q.collect()
    val scans = graft.PlanTestUtils.kvBatchScans(q.queryExecution.executedPlan)
    val (idx, base) = scans.partition(
      _.scan.asInstanceOf[GraftKvScan].description().contains("/_index/"))
    assert(idx.nonEmpty && base.nonEmpty, scans.map(_.scan.description()))
    idx.foreach(b => assert(b.runtimeFilters.isEmpty,
      s"index-side scan carries runtime filters: ${b.runtimeFilters}"))
    val baseFilters = base.flatMap(_.runtimeFilters)
    assert(baseFilters.nonEmpty, "base-side DPP missing")
    baseFilters.foreach { f =>
      assert(f.collectFirst {
        case DynamicPruningExpression(Literal(true, _)) => ()
      }.isEmpty, s"degenerate DPP on the base scan: $f")
    }
  }

  test("range and IN predicates rewrite; IS NULL and non-indexed do not") {
    val path = tmpDir("shapes")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)
    assert(hasSemiJoin(t.filter(col("v") >= 8)))
    assert(hasSemiJoin(t.filter(col("v").isin(1, 2, 3))))
    assert(hasSemiJoin(t.filter(col("v") === 1 || col("v") === 9)))
    // null-accepting or non-indexed predicates must not be rewritten
    assert(!hasSemiJoin(t.filter(col("v").isNull)))
    assert(!hasSemiJoin(t.filter(col("w") === 10)))
    // values agree on the range shape too
    val got = t.filter(col("v") >= 8).agg(count(lit(1))).head().getLong(0)
    val exp = (0L until 20000L).count(i => i % 100 != 7 && i / 2000 >= 8)
    assert(got == exp)
  }

  test("an unselective predicate skips the rewrite (selectivity gate)") {
    val path = tmpDir("seltest")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)

    // v >= 1 matches ~90% of rows: a semi-join carrying 90% of the
    // primary keys is strictly worse than the scan it replaces — the
    // metadata estimate must block the rewrite
    val wide = t.filter(col("v") >= 1)
    assert(!hasSemiJoin(wide), "unselective predicate must not rewrite")
    // ...while a selective one on the same index still does
    assert(hasSemiJoin(t.filter(col("v") === 3)))
    // the gate is an estimate, never a correctness lever: values match
    val got = wide.agg(count(lit(1))).head().getLong(0)
    val exp = (0L until 20000L).count(i => i % 100 != 7 && i / 2000 >= 1)
    assert(got == exp)

    // threshold is a knob: raising it restores the rewrite
    spark.conf.set("spark.graft.index.rewrite.maxSelectivity", "1.0")
    try assert(hasSemiJoin(t.filter(col("v") >= 1)))
    finally spark.conf.unset("spark.graft.index.rewrite.maxSelectivity")
  }

  test("a base commit makes the index invisible until REFRESH catches up") {
    val path = tmpDir("stale")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)
    assert(hasSemiJoin(t.filter(col("v") === 5)))

    // upsert: k=5000 moves v 2 -> 777; k=30000 appears with v=777
    KvCommands.append(spark.range(1).select(lit(5000L).as("k"),
      lit(777L).as("v"), lit(0L).as("w")), path)
    KvCommands.append(spark.range(1).select(lit(30000L).as("k"),
      lit(777L).as("v"), lit(0L).as("w")), path)

    val stale = t.filter(col("v") === 777).orderBy("k")
    assert(!hasSemiJoin(stale), "stale index must not be used")
    val before = stale.collect()
    assert(before.exists(_.getLong(0) == 5000L))
    assert(before.exists(_.getLong(0) == 30000L))

    val d = KvIndex.refresh(spark, path, "iv")
    assert(KvIndex.inSync(path, d))
    val fresh = t.filter(col("v") === 777).orderBy("k")
    assert(hasSemiJoin(fresh), "refreshed index must be used again")
    assert(fresh.collect().toSeq == before.toSeq)

    // the MOVED row's old value must not match through the index path
    val old = t.filter(col("v") === 2)
    assert(hasSemiJoin(old))
    assert(!old.collect().exists(_.getLong(0) == 5000L))
  }

  test("refresh applies deletes, and multi-refresh stays consistent") {
    val path = tmpDir("del")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    KvCommands.delete(spark, path, col("k") >= 18000)
    KvIndex.refresh(spark, path, "iv")
    val t = KvCommands.table(spark, path)
    // every carrier of v=9 (ids 18000..19999) is deleted; the index
    // path must agree with ground truth and return nothing
    val q = t.filter(col("v") === 9)
    assert(hasSemiJoin(q))
    assert(q.collect().isEmpty)
    // second refresh with no base change is a no-op
    val d1 = KvIndex.get(path, "iv").get
    assert(KvIndex.refresh(spark, path, "iv") == d1)
  }

  test("stock SQL: CREATE INDEX / SHOW INDEXES / REFRESH / DROP through the catalog") {
    val root = Files.createTempDirectory("graftkv_idx_cat").toString
    val cat = s"gidx${math.abs(root.hashCode() % 100000)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('key'='k')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id % 50 FROM range(5000)")
    spark.sql(s"CREATE INDEX iv ON TABLE $cat.db.t (v)")

    val shown = spark.sql(s"SHOW INDEXES FOR $cat.db.t").collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("iv"))
    assert(shown.head.getBoolean(3), "fresh index must be in sync")

    val viaIdx = spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 7 ORDER BY k")
    assert(viaIdx.collect().map(_.getLong(0)).toSeq ==
      (7L until 5000L by 50L).toSeq)
    assert(usesIndex(viaIdx)) // (k, v)-only: the covering path

    spark.sql(s"INSERT INTO $cat.db.t VALUES (9999999, 7)")
    assert(!spark.sql(s"SHOW INDEXES FOR $cat.db.t").head().getBoolean(3))
    val v = spark.sql(s"REFRESH INDEX iv ON $cat.db.t").head().getLong(0)
    assert(v > 0)
    val after = spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 7 ORDER BY k")
    assert(after.collect().map(_.getLong(0)).toSeq ==
      ((7L until 5000L by 50L) :+ 9999999L).toSeq)
    assert(usesIndex(after))

    spark.sql(s"DROP INDEX iv ON $cat.db.t")
    assert(spark.sql(s"SHOW INDEXES FOR $cat.db.t").collect().isEmpty)
    assert(!usesIndex(spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 7")))
    spark.sql(s"DROP TABLE $cat.db.t")
  }

  test("ALTER TABLE keeps indexes and views in sync; the next REFRESH is incremental") {
    val root = Files.createTempDirectory("graftkv_idx_alter").toString
    val cat = s"gidxa${math.abs(root.hashCode() % 100000)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('key'='k')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id % 50 FROM range(5000)")
    val base = s"$root/db/t"
    KvIndex.create(spark, base, "iv", Seq("v"))
    KvMatView.create(spark, base, "mv", Seq("v"), Seq("k"))

    // a header-only commit publishes a new version with the same files
    val vBefore = graft.store.SegmentFile.currentVersion(base).get
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN w INT")
    assert(graft.store.SegmentFile.currentVersion(base).get > vBefore)
    assert(KvIndex.inSync(base, KvIndex.get(base, "iv").get))
    assert(KvMatView.inSync(base, KvMatView.get(base, "mv").get))
    val q = spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 7 ORDER BY k")
    assert(usesIndex(q))
    assert(q.collect().map(_.getLong(0)).toSeq == (7L until 5000L by 50L).toSeq)

    // both refreshes diff from the pre-ALTER watermark: an incremental
    // one appends to the derived table, a rebuild replaces its files
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9999999, 7, 1)")
    def files(p: String) = graft.store.SegmentFile.readManifestVersion(p,
      graft.store.SegmentFile.currentVersion(p).get).get
    for ((p, refresh) <- Seq(
        KvIndex.indexPath(base, "iv") -> (() => KvIndex.refresh(spark, base, "iv")),
        KvMatView.mvPath(base, "mv") -> (() => KvMatView.refresh(spark, base, "mv")))) {
      val before = files(p)
      refresh()
      val after = files(p)
      assert(before.subsetOf(after) && after != before,
        s"$p was rebuilt, not refreshed incrementally")
    }
    assert(KvIndex.inSync(base, KvIndex.get(base, "iv").get))
    assert(KvMatView.inSync(base, KvMatView.get(base, "mv").get))
    val after = spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 7 ORDER BY k")
    assert(usesIndex(after))
    assert(after.collect().map(_.getLong(0)).toSeq ==
      ((7L until 5000L by 50L) :+ 9999999L).toSeq)
    val g7 = KvMatView.read(spark, base, "mv").where(col("v") === 7L).head()
    assert(g7.getLong(1) == 101L)
    spark.sql(s"DROP TABLE $cat.db.t")
  }

  test("a VERSION AS OF snapshot read never uses the index") {
    val path = tmpDir("snap")
    mkBase(path)
    val v0 = graft.store.SegmentFile.currentVersion(path).get
    KvIndex.create(spark, path, "iv", Seq("v"))
    val snap = KvCommands.tableAsOf(spark, path, v0)
    assert(!hasSemiJoin(snap.filter(col("v") === 5)))
    assert(snap.filter(col("v") === 5).count() ==
      (0L until 20000L).count(i => i % 100 != 7 && i / 2000 == 5))
  }

  test("covering: a (c, pk)-only query reads the index alone") {
    val path = tmpDir("cover")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)

    val q = t.filter(col("v") === 3).select("k").orderBy("k")
    q.collect()
    val scans = kvScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.forall(_.description().contains("/_index/")),
      s"covered query touched the base table: ${scans.map(_.description())}")

    spark.conf.set("spark.graft.index.rewrite", "false")
    val direct = try t.filter(col("v") === 3).select("k").orderBy("k").collect()
    finally spark.conf.set("spark.graft.index.rewrite", "true")
    assert(q.collect().toSeq == direct.toSeq)

    // a query needing a non-covered column must keep the base table
    val wide = t.filter(col("v") === 3).select("k", "w")
    wide.collect()
    assert(kvScans(wide.queryExecution.executedPlan)
      .exists(s => !s.description().contains("/_index/")))
    // and still answers through the semi-join acceleration
    assert(hasSemiJoin(wide))

    // stale index: covering must back off entirely
    KvCommands.append(spark.range(1).select(lit(50000L).as("k"),
      lit(3L).as("v"), lit(0L).as("w")), path)
    val stale = t.filter(col("v") === 3).select("k").orderBy("k")
    val staleRows = stale.collect()
    assert(kvScans(stale.queryExecution.executedPlan)
      .forall(s => !s.description().contains("/_index/")))
    assert(staleRows.exists(_.getLong(0) == 50000L))
  }

  test("fuzz: random upserts/deletes/compactions + refresh keep indexed queries exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(4242)
    val path = tmpDir("fuzz")
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("w", LongType, nullable = false)))
    val model = scala.collection.mutable.Map.empty[Long, (Option[Long], Long)]

    def randomRows(n: Int): Seq[Row] = (0 until n).map { _ =>
      val k = rnd.nextInt(3000).toLong
      val v = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(20).toLong)
      val w = rnd.nextLong(1000000)
      model(k) = (v, w)
      Row(k, v.orNull, w)
    }

    def df(rows: Seq[Row]) = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)

    KvCommands.createTable(df(randomRows(500)), path, Seq("k"))
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)

    for (round <- 1 to 12) {
      rnd.nextInt(4) match {
        case 0 | 1 => KvCommands.append(df(randomRows(1 + rnd.nextInt(200))), path)
        case 2 =>
          val m = 2 + rnd.nextInt(7); val r = rnd.nextInt(m)
          KvCommands.delete(spark, path, col("k") % m === r)
          model.keys.filter(k => k % m == r).toSeq.foreach(model.remove)
        case 3 =>
          if (rnd.nextBoolean()) KvCommands.compact(spark, path)
          else KvCommands.compactMinor(spark, path)
      }
      if (round % 2 == 0) KvIndex.refresh(spark, path, "iv")

      val target = rnd.nextInt(20).toLong
      val expected = model.collect {
        case (k, (Some(v), _)) if v == target => k
      }.toSeq.sorted
      val q = t.filter(col("v") === target).select("k")
      val got = q.collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected, s"round $round, v=$target")
      // the rewrite (covering here — a (v, k)-only query) must track
      // the sync gate exactly: index used iff the watermark matches
      // the current base version
      val inSync = KvIndex.inSync(path, KvIndex.get(path, "iv").get)
      assert(usesIndex(q) == inSync, s"round $round: rewrite/sync mismatch")
    }
  }

  test("a cross-process DROP INDEX degrades to no-rewrite, never a failure") {
    val path = tmpDir("xdrop")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    val t = KvCommands.table(spark, path)
    assert(usesIndex(t.filter(col("v") === 3).select("k"))) // warm the cache
    // another process drops the index: files vanish, THIS process's
    // listing cache still holds the definition (no invalidate ran)
    KvIndex.deleteRecursively(KvIndex.indexPath(path, "iv"))
    val q = t.filter(col("v") === 3).select("k").orderBy("k")
    val rows = q.collect() // must not throw
    assert(rows.length == 1980)
    assert(!usesIndex(q), "dead index must not be referenced")
  }

  test("a string-column index orders, seeks, and refreshes correctly") {
    val path = tmpDir("str")
    val statuses = Seq("ACTIVE", "DELETED", "PENDING", "ZOMBIE")
    KvCommands.createTable(
      spark.range(8000).select(col("id").as("k"),
        element_at(typedLit(statuses), (col("id") % 4 + 1).cast("int"))
          .as("st"), col("id").as("w")),
      path, Seq("k"))
    KvIndex.create(spark, path, "ist", Seq("st"))
    val t = KvCommands.table(spark, path)

    val q = t.filter(col("st") === "PENDING").select("k")
    assert(usesIndex(q))
    assert(q.count() == 2000)
    // range over the UTF-8 sort order the index key codec maintains
    val r = t.filter(col("st") >= "DELETED" && col("st") < "PENDING")
    assert(hasSemiJoin(r))
    assert(r.count() == 2000) // only DELETED

    KvCommands.append(spark.range(1).select(lit(50000L).as("k"),
      lit("ZOMBIE").as("st"), lit(0L).as("w")), path)
    KvIndex.refresh(spark, path, "ist")
    val z = t.filter(col("st") === "ZOMBIE").select("k")
    assert(usesIndex(z))
    assert(z.count() == 2001)
  }

  test("DROP TABLE removes the table's indexes") {
    val path = tmpDir("drop")
    mkBase(path)
    KvIndex.create(spark, path, "iv", Seq("v"))
    assert(KvIndex.list(path).nonEmpty)
    KvCommands.dropTable(path)
    assert(KvIndex.list(path).isEmpty)
    assert(!new java.io.File(path).exists())
  }
}
