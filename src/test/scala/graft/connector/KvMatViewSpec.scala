package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incrementally-maintained aggregate views (KvMatView): the CDC-delta
  * fold must stay bit-identical to a full re-aggregation through any
  * sequence of upserts, deletes, and compactions. */
class KvMatViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graftkv_mv_$tag").toString + "/t"

  /** Full recompute of what the view must hold, from the base table. */
  private def expected(base: String, groupCols: Seq[String],
      sumCols: Seq[String]): Seq[Seq[Any]] =
    KvCommands.table(spark, base)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sumCols.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
          avg(col(c)).as(s"avg_$c"))): _*)
      .orderBy(groupCols.map(col): _*)
      .collect().toSeq.map(_.toSeq)

  private def actual(base: String, name: String,
      groupCols: Seq[String]): Seq[Seq[Any]] =
    KvMatView.read(spark, base, name)
      .orderBy(groupCols.map(col): _*)
      .collect().toSeq.map(_.toSeq)

  test("create, read, and incremental refresh match a full re-aggregation") {
    val path = tmpDir("basic")
    KvCommands.createTable(
      spark.range(5000).select(col("id").as("k"),
        (col("id") % 7).as("g"),
        when(col("id") % 50 === 3, lit(null)).otherwise(col("id")).as("x")),
      path, Seq("k"))
    KvMatView.create(spark, path, "mv", Seq("g"), Seq("x"))
    assert(KvMatView.inSync(path, KvMatView.get(path, "mv").get))
    assert(actual(path, "mv", Seq("g")) == expected(path, Seq("g"), Seq("x")))

    // upserts that MOVE rows between groups, introduce nulls, add rows
    KvCommands.append(spark.range(300).select((col("id") * 3).as("k"),
      (col("id") % 5).as("g"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") * 100).as("x")),
      path)
    assert(!KvMatView.inSync(path, KvMatView.get(path, "mv").get))
    KvMatView.refresh(spark, path, "mv")
    assert(actual(path, "mv", Seq("g")) == expected(path, Seq("g"), Seq("x")))

    // deletes that empty whole groups: add a unique group, then kill it
    KvCommands.append(spark.range(1).select(lit(999999L).as("k"),
      lit(77L).as("g"), lit(1L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    assert(actual(path, "mv", Seq("g"))
      .exists(_.head == 77L))
    KvCommands.delete(spark, path, col("g") === 77)
    KvMatView.refresh(spark, path, "mv")
    val rows = actual(path, "mv", Seq("g"))
    assert(!rows.exists(_.head == 77L), "emptied group must leave the view")
    assert(rows == expected(path, Seq("g"), Seq("x")))

    // no-op refresh returns the same definition
    val d1 = KvMatView.get(path, "mv").get
    assert(KvMatView.refresh(spark, path, "mv") == d1)
  }

  test("min/max value columns: tighten on insert, rescan on extreme removal") {
    val path = tmpDir("minmax")
    KvCommands.createTable(
      spark.range(3000).select(col("id").as("k"), (col("id") % 6).as("g"),
        when(col("id") % 40 === 7, lit(null))
          .otherwise(col("id") * 3 % 997).as("x"),
        (col("id").cast("double") * 1.25).as("y")),
      path, Seq("k"))
    KvMatView.create(spark, path, "mv", Seq("g"), Seq("x"), Seq("x", "y"))
    def exp() = KvCommands.table(spark, path).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"), avg("x").as("avg_x"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    def got() = KvMatView.read(spark, path, "mv")
      .orderBy("g").collect().toSeq.map(_.toSeq)
    def refreshed(): Unit = {
      KvMatView.refresh(spark, path, "mv")
      assert(got() == exp())
    }
    assert(got() == exp())

    // pure inserts extending extremes both directions — the
    // incremental (tighten-only) path
    KvCommands.append(spark.range(60).select((col("id") + 10000).as("k"),
      (col("id") % 6).as("g"),
      when(col("id") % 2 === 0, col("id") * 100 + 1000)
        .otherwise(-col("id")).as("x"),
      (col("id").cast("double") - 500.5).as("y")), path)
    refreshed()

    // inserts strictly INSIDE the current extremes (still incremental)
    KvCommands.append(spark.range(20).select((col("id") + 20000).as("k"),
      (col("id") % 6).as("g"), lit(500L).as("x"), lit(100.0).as("y")), path)
    refreshed()

    // delete rows holding several groups' maxima — the rescan path
    KvCommands.delete(spark, path, col("x") > 900)
    refreshed()

    // row-level update pulling a minimum up (old extreme value leaves)
    KvCommands.update(spark, path, col("x") < 0,
      Map("x" -> lit(7L)))
    refreshed()

    // update of an UNRELATED column: no minmax contribution at all
    KvCommands.update(spark, path, col("k") % 5 === 0,
      Map("y" -> (col("y") + 0.5)))
    refreshed()

    // a group emptied entirely leaves the view
    KvCommands.delete(spark, path, col("g") === 3)
    refreshed()
    assert(!got().exists(_.head == 3L))

    // all-null column values in a fresh group: NULL extremes stored
    KvCommands.append(spark.range(3).select((col("id") + 30000).as("k"),
      lit(42L).as("g"), lit(null).cast("long").as("x"),
      (col("id").cast("double")).as("y")), path)
    refreshed()
    val g42 = got().find(_.head == 42L).get
    assert(g42(4) == null && g42(5) == null, "all-null x => NULL min/max")

    // rebuild fallback (major compaction drops the watermark snapshot)
    KvCommands.append(spark.range(10).select((col("id") + 40000).as("k"),
      (col("id") % 6).as("g"), col("id").as("x"),
      col("id").cast("double").as("y")), path)
    KvCommands.compact(spark, path)
    refreshed()
  }

  test("a group-moving upsert with UNCHANGED minmax value folds both sides") {
    // regression: the update-activity gate once keyed only on the value
    // column changing, so a row that moved between groups while keeping
    // its value contributed neither the removal (old group's extreme
    // silently stale) nor the insert (new group's extreme not tightened)
    val path = tmpDir("groupmove")
    KvCommands.createTable(
      spark.range(100).select(col("id").as("k"), (col("id") % 4).as("g"),
        (col("id") % 50).as("x")), path, Seq("k"))
    // k=49 holds x=49, the strict max of group g=1
    KvMatView.create(spark, path, "mv", Seq("g"), Nil, Seq("x"))
    // the truth must come from the BASE scan: count/min/max of declared
    // columns is exactly the shape KvMatViewRule rewrites onto the view,
    // and a view-answered "expected" would compare corruption to itself
    def exp() = {
      spark.conf.set("spark.graft.matview.rewrite", "false")
      try KvCommands.table(spark, path)
        .filter(col("g").isNotNull) // NULL groups sit outside the view
        .groupBy("g")
        .agg(count(lit(1)).as("cnt"), min("x").as("min_x"), max("x").as("max_x"))
        .orderBy("g").collect().toSeq.map(_.toSeq)
      finally spark.conf.set("spark.graft.matview.rewrite", "true")
    }
    def got() = KvMatView.read(spark, path, "mv")
      .orderBy("g").collect().toSeq.map(_.toSeq)
    assert(got() == exp())

    // move the extreme holder to another group, SAME x (upsert on k=49)
    KvCommands.append(spark.range(1).select(lit(49L).as("k"),
      lit(2L).as("g"), lit(49L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    assert(got() == exp(),
      "old group must drop the moved extreme; new group must adopt it")

    // and a move INTO the view from a NULL group, value unchanged
    KvCommands.append(spark.range(1).select(lit(500L).as("k"),
      lit(null).cast("long").as("g"), lit(999L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    KvCommands.append(spark.range(1).select(lit(500L).as("k"),
      lit(3L).as("g"), lit(999L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    assert(got() == exp(), "NULL->real group entry must tighten the extreme")

    // and OUT of the view (real -> NULL group), value unchanged: the
    // departed group's extreme must rescan away
    KvCommands.append(spark.range(1).select(lit(500L).as("k"),
      lit(null).cast("long").as("g"), lit(999L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    assert(got() == exp(), "real->NULL group exit must drop the extreme")
  }

  test("refresh survives a major compaction via the rebuild fallback") {
    val path = tmpDir("compact")
    KvCommands.createTable(
      spark.range(2000).select(col("id").as("k"), (col("id") % 4).as("g"),
        col("id").as("x")), path, Seq("k"))
    KvMatView.create(spark, path, "mv", Seq("g"), Seq("x"))
    KvCommands.append(spark.range(100).select((col("id") + 5000).as("k"),
      lit(9L).as("g"), col("id").as("x")), path)
    KvCommands.compact(spark, path)
    // a zero-retention sweep drops the watermark snapshot and the files it
    // lists, so the refresh cannot diff and must rebuild
    KvCommands.sweepUnmanifested(path, 0L)
    KvMatView.refresh(spark, path, "mv")
    assert(KvMatView.inSync(path, KvMatView.get(path, "mv").get))
    assert(actual(path, "mv", Seq("g")) == expected(path, Seq("g"), Seq("x")))
  }

  test("fuzz: the delta fold equals a recompute through random histories") {
    val rnd = new scala.util.Random(1717)
    val path = tmpDir("fuzz")
    // rows built driver-side for full control over randomness
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("x", LongType, nullable = true)))
    def randomDf(n: Int) = {
      // x domain deliberately SMALL: upserts that move a row between
      // groups while keeping x unchanged then occur naturally, which is
      // the minmax fold's hardest case (the group-move regression)
      val rs = (0 until n).map { _ =>
        Row(rnd.nextInt(2000).toLong, rnd.nextInt(10).toLong,
          if (rnd.nextInt(8) == 0) null else rnd.nextLong(25))
      }
      spark.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rs).asJava), schema)
    }
    KvCommands.createTable(randomDf(400), path, Seq("k"))
    // minmax on the SAME nullable column the sums fold: every random
    // upsert/delete exercises the tighten-vs-rescan split too
    KvMatView.create(spark, path, "mv", Seq("g"), Seq("x"), Seq("x"))
    def exp() = KvCommands.table(spark, path).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"), avg("x").as("avg_x"),
        min("x").as("min_x"), max("x").as("max_x"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    for (round <- 1 to 8) {
      rnd.nextInt(3) match {
        case 0 | 1 => KvCommands.append(randomDf(1 + rnd.nextInt(150)), path)
        case 2 =>
          val m = 2 + rnd.nextInt(5)
          KvCommands.delete(spark, path, col("k") % m === rnd.nextInt(m))
      }
      if (round % 3 == 0) KvCommands.compactMinor(spark, path)
      KvMatView.refresh(spark, path, "mv")
      assert(actual(path, "mv", Seq("g")) == exp(), s"round $round")
    }
  }

  test("float sums are refused; NULL-group rows are excluded by contract") {
    val path = tmpDir("guards")
    KvCommands.createTable(
      spark.range(100).select(col("id").as("k"),
        when(col("id") % 10 === 5, lit(null)).otherwise(col("id") % 3).as("g"),
        (col("id").cast("double") * 1.5).as("d"),
        col("id").as("x")),
      path, Seq("k"))
    intercept[IllegalArgumentException] {
      KvMatView.create(spark, path, "mvf", Seq("x"), Seq("d"))
    }
    assert(KvMatView.list(path).isEmpty)

    // NULL group values have no representable view key: those rows sit
    // outside the view (the index's NULL rule), at create AND refresh
    KvMatView.create(spark, path, "mvn", Seq("g"), Seq("x"))
    def expectedNonNull() = KvCommands.table(spark, path)
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    def got() = KvMatView.read(spark, path, "mvn")
      .select(col("g"), col("cnt"), col("sum_x"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    assert(got() == expectedNonNull())
    // refresh with a mixed delta: null-group rows appear and a row
    // MOVES from a null group to a real one (and vice versa)
    KvCommands.append(spark.range(20).select((col("id") + 200).as("k"),
      when(col("id") % 2 === 0, lit(null)).otherwise(lit(7L)).as("g"),
      col("id").as("x")), path)
    KvCommands.append(spark.range(1).select(lit(5L).as("k"),
      lit(2L).as("g"), lit(5L).as("x")), path)   // null -> real group
    KvCommands.append(spark.range(1).select(lit(6L).as("k"),
      lit(null).cast("long").as("g"), lit(6L).as("x")), path) // real -> null
    KvMatView.refresh(spark, path, "mvn")
    assert(got() == expectedNonNull())
  }

  test("an interrupted refresh (intent marker) forces the rebuild path") {
    val path = tmpDir("marker")
    KvCommands.createTable(
      spark.range(1000).select(col("id").as("k"), (col("id") % 5).as("g"),
        col("id").as("x")), path, Seq("k"))
    KvMatView.create(spark, path, "mv", Seq("g"), Seq("x"))
    KvCommands.append(spark.range(50).select((col("id") + 2000).as("k"),
      lit(1L).as("g"), col("id").as("x")), path)
    // a refresh that died after its data commit leaves the marker and
    // an un-advanced watermark; the deltas were (partially) applied
    val marker = KvMaintenance.markerPath(KvMatView.mvPath(path, "mv"))
    graft.io.SidecarFs.writeStringAtomic(marker, "999")
    // worst case: the delta actually already landed once
    KvCommands.append(spark.range(1).select(lit(3000L).as("k"),
      lit(1L).as("g"), lit(0L).as("x")), path)
    KvMatView.refresh(spark, path, "mv")
    assert(!graft.io.SidecarFs.exists(marker), "marker must clear")
    assert(KvMatView.inSync(path, KvMatView.get(path, "mv").get))
    assert(actual(path, "mv", Seq("g")) == expected(path, Seq("g"), Seq("x")),
      "rebuild path must produce the absolute truth, not re-fold deltas")
  }

  test("SQL: CREATE / SHOW / REFRESH / DROP MATERIALIZED VIEW through the catalog") {
    val root = Files.createTempDirectory("graftkv_mv_cat").toString
    val cat = s"gmv${math.abs(root.hashCode() % 100000)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, g BIGINT, x BIGINT) " +
      "TBLPROPERTIES('key'='k')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id % 3, id FROM range(300)")
    spark.sql(
      s"CREATE MATERIALIZED VIEW mv ON TABLE $cat.db.t GROUP BY g SUM (x)")

    val shown = spark.sql(s"SHOW MATERIALIZED VIEWS FOR $cat.db.t").collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("mv"))
    assert(shown.head.getBoolean(4), "fresh view must be in sync")

    spark.sql(s"INSERT INTO $cat.db.t VALUES (1000, 0, 500)")
    assert(!spark.sql(s"SHOW MATERIALIZED VIEWS FOR $cat.db.t")
      .head().getBoolean(4))
    spark.sql(s"REFRESH MATERIALIZED VIEW mv ON $cat.db.t")

    val tdir = s"$root/db/t"
    val got = actual(tdir, "mv", Seq("g"))
    assert(got == expected(tdir, Seq("g"), Seq("x")))

    // the MINMAX clause parses through the same statement
    spark.sql(s"CREATE MATERIALIZED VIEW mvm ON TABLE $cat.db.t " +
      "GROUP BY g SUM (x) MINMAX (x)")
    assert(KvMatView.get(tdir, "mvm").get.minMaxCols == Seq("x"))
    val mmShown = spark.sql(s"SHOW MATERIALIZED VIEWS FOR $cat.db.t")
      .collect().find(_.getString(0) == "mvm").get
    assert(mmShown.getString(6) == "x")
    val mmGot = actual(tdir, "mvm", Seq("g"))
    val mmExp = KvCommands.table(spark, tdir).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sum_x"), avg("x").as("avg_x"),
        min("x").as("min_x"), max("x").as("max_x"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    assert(mmGot == mmExp)
    spark.sql(s"DROP MATERIALIZED VIEW mvm ON $cat.db.t")

    spark.sql(s"DROP MATERIALIZED VIEW mv ON $cat.db.t")
    assert(spark.sql(s"SHOW MATERIALIZED VIEWS FOR $cat.db.t")
      .collect().isEmpty)
    spark.sql(s"DROP TABLE $cat.db.t")
  }

  test("DROP TABLE removes materialized views") {
    val path = tmpDir("drop")
    KvCommands.createTable(spark.range(100).select(col("id").as("k"),
      (col("id") % 3).as("g")), path, Seq("k"))
    KvMatView.create(spark, path, "mv", Seq("g"))
    assert(KvMatView.list(path).nonEmpty)
    KvCommands.dropTable(path)
    assert(KvMatView.list(path).isEmpty)
  }
}
