package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-clustered kv tables end-to-end: lossless round-trip, box-query
  * correctness against a plain DataFrame oracle, segment pruning from
  * box predicates (the whole point of the layout), `_z`-less appends,
  * and Put-upsert last-write-wins across the z layout. */
class ZOrderTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graftkv_z").toString + "/t"

  /** 100×100 grid with a value column; many small segments so pruning
    * has something to prune. */
  private def grid = spark.range(10000).select(
    (col("id") / 100).cast("long").as("a"),
    (col("id") % 100).cast("long").as("b"),
    (col("id") * 7).as("v"))

  test("z-clustered round-trip is lossless and _z is the lead key") {
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"))
    val m = GraftKvMeta.read(path).get
    assert(m.keys == Seq("_z", "a", "b"))
    assert(m.zorder.map(_.name) == Seq("a", "b"))
    // create-time normalization: 0..99 needs 7 bits, so no shift at all
    assert(m.zorder.forall(_.shift == 0))
    val back = KvCommands.table(spark, path)
    val got = back.select("a", "b", "v").collect().map(_.toSeq).toSet
    assert(got == grid.collect().map(_.toSeq).toSet)
    // stored _z matches the kernel recomputed with the persisted specs
    val bad = back.filter(col("_z") =!= graft.functions.ZValue.forDims(
      m.zorder, Seq(col("a"), col("b")))).count()
    assert(bad == 0L)
  }

  test("box query matches the oracle and prunes segments") {
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"),
      maxSegBytes = Some(8192L))

    val back = KvCommands.table(spark, path)
    val box = back.filter(col("a").between(10, 19) && col("b").between(30, 39))
      .select("a", "b", "v")
    val exp = grid.filter(col("a").between(10, 19) && col("b").between(30, 39))
      .collect().map(_.toSeq).toSet
    assert(box.collect().map(_.toSeq).toSet == exp)

    // pruning: the 1% box must touch a small fraction of the segments
    val m = GraftKvMeta.read(path).get
    val all = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array.empty, -1).planInputPartitions().length
    val pruned = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("a", 10L),
        org.apache.spark.sql.sources.LessThanOrEqual("a", 19L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("b", 30L),
        org.apache.spark.sql.sources.LessThanOrEqual("b", 39L)),
      -1).planInputPartitions().length
    assert(all >= 8, s"fixture too coarse to show pruning: $all segments")
    assert(pruned * 4 <= all,
      s"z box should prune most segments: $pruned of $all survive")
  }

  test("append without _z derives it and stays upsert-correct") {
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"))
    // logical-schema append: rows outside the create-time range (clamp
    // path) + an overwrite of an existing cell
    val delta = Seq((200L, 1L, 999L), (10L, 30L, -1L)).toDF("a", "b", "v")
    KvCommands.append(delta, path)
    val back = KvCommands.table(spark, path)
    assert(back.filter(col("a") === 200L && col("b") === 1L)
      .select("v").head().getLong(0) == 999L)
    // Put semantics: the re-appended (10,30) replaced the original row
    val cell = back.filter(col("a") === 10L && col("b") === 30L).collect()
    assert(cell.length == 1 && cell.head.getAs[Long]("v") == -1L)
    assert(back.count() == 10001L)
  }

  test("unsatisfiable box plans zero partitions") {
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"))
    val m = GraftKvMeta.read(path).get
    val none = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array(
        org.apache.spark.sql.sources.GreaterThan("a", 50L),
        org.apache.spark.sql.sources.LessThan("a", 10L)),
      -1).planInputPartitions().length
    assert(none == 0)
  }

  test("compaction restores z-tile pruning after scattered appends") {
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"),
      maxSegBytes = Some(8192L))
    // ten appends scattered across the whole z-domain: each new segment
    // spans most of the curve, so the box overlaps everything
    (0 until 10).foreach { i =>
      KvCommands.append(Seq((i.toLong, 99L - i, -i.toLong), (99L - i, i.toLong, i.toLong))
        .toDF("a", "b", "v"), path)
    }
    val m = GraftKvMeta.read(path).get
    def prunedCount(): (Int, Int) = {
      val all = new GraftKvScan(path, m.schema, m.keys, m.schema,
        Array.empty, -1).planInputPartitions().length
      val pruned = new GraftKvScan(path, m.schema, m.keys, m.schema,
        Array(
          org.apache.spark.sql.sources.GreaterThanOrEqual("a", 40L),
          org.apache.spark.sql.sources.LessThanOrEqual("a", 49L),
          org.apache.spark.sql.sources.GreaterThanOrEqual("b", 40L),
          org.apache.spark.sql.sources.LessThanOrEqual("b", 49L)),
        -1).planInputPartitions().length
      (pruned, all)
    }
    KvCommands.compact(spark, path, maxSegBytes = Some(8192L))
    // the z declaration rides through the major rewrite
    assert(GraftKvMeta.read(path).get.zorder.map(_.name) == Seq("a", "b"))
    val (pruned, all) = prunedCount()
    assert(all >= 8, s"compacted table too coarse: $all segments")
    assert(pruned * 4 <= all,
      s"compaction should restore z-tiling: $pruned of $all survive")
    // the appends were all overwrites of existing grid cells — count is
    // unchanged and the upserted value wins through the compaction
    val back = KvCommands.table(spark, path)
    assert(back.count() == 10000L)
    assert(back.filter(col("a") === 0L && col("b") === 99L)
      .select("v").head().getLong(0) == 0L)
  }

  test("streaming sink derives _z: writeStream into a z-clustered table") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"))
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val ckpt = Files.createTempDirectory("graftkv_z_ckpt").toString
    // the stream writes the LOGICAL schema — no _z column anywhere
    val q = input.toDF().toDF("a", "b", "v").writeStream.format("graftkv")
      .option("checkpointLocation", ckpt).start(path)
    input.addData((200L, 5L, 1L), (10L, 30L, -7L)) // new key + overwrite
    q.processAllAvailable()
    input.addData((201L, 6L, 2L))
    q.processAllAvailable()
    q.stop()
    val back = KvCommands.table(spark, path)
    assert(back.count() == 10002L)
    assert(back.filter(col("a") === 200L && col("b") === 5L)
      .head().getAs[Long]("v") == 1L)
    assert(back.filter(col("a") === 10L && col("b") === 30L)
      .head().getAs[Long]("v") == -7L)
    // the sink-derived _z equals the kernel under the persisted specs
    val m = GraftKvMeta.read(path).get
    assert(back.filter(col("_z") =!= graft.functions.ZValue.forDims(
      m.zorder, Seq(col("a"), col("b")))).count() == 0L)
  }

  test("runtime join filters on z dims prune segments (DPP × z-curve)") {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.{graftbridge => gb}
    import org.apache.spark.sql.types.LongType
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"),
      maxSegBytes = Some(8192L))
    val m = GraftKvMeta.read(path).get
    val all = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array.empty, -1).planInputPartitions().length
    // a star join's runtime IN on dim `a` (two surviving dim keys): the
    // scan never saw a compile-time filter, yet the runtime values bound
    // the z-box and prune — multi-dim DPP through the z layout
    val scan = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array.empty, -1)
    scan.filter(Array(new Predicate("IN",
      (E.column("a") +: Seq(3L, 7L).map(v =>
        gb.v2Literal(v, LongType): org.apache.spark.sql.connector.expressions.Expression)).toArray)))
    val pruned = scan.planInputPartitions().length
    assert(all >= 8, s"fixture too coarse: $all")
    assert(pruned * 4 <= all,
      s"runtime IN on a z dim should prune most segments: $pruned of $all")
  }

  test("snapshot reads never narrow with current z specs") {
    // every snapshot carries its own declaration, z specs included: a
    // snapshot from before a re-create that changed the normalization
    // z-prunes under ITS specs, never the current meta's — pruning kept,
    // results exact
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"),
      maxSegBytes = Some(8192L))
    val v1 = KvCommands.snapshots(path).last
    val m = GraftKvMeta.read(path).get
    KvCommands.createZOrderTable(
      grid.select((col("a") + 5000).as("a"), col("b"), col("v")), path,
      Seq("a", "b"), maxSegBytes = Some(8192L))
    assert(GraftKvMeta.read(path).get.zorder != m.zorder)
    val box = Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("a", 10L),
      org.apache.spark.sql.sources.LessThanOrEqual("a", 19L),
      org.apache.spark.sql.sources.GreaterThanOrEqual("b", 30L),
      org.apache.spark.sql.sources.LessThanOrEqual("b", 39L))
    val snap = new GraftKvScan(path, m.schema, m.keys, m.schema, box, -1,
      snapshotVersion = Some(v1)).planInputPartitions().length
    val all = new GraftKvScan(path, m.schema, m.keys, m.schema,
      Array.empty, -1, snapshotVersion = Some(v1)).planInputPartitions().length
    assert(snap * 4 <= all, s"snapshot scan should z-prune: $snap of $all")
    // and the snapshot's box answer stays exact
    val exp = grid.filter(col("a").between(10, 19) && col("b").between(30, 39))
      .select("a", "b", "v").collect().map(_.toSeq).toSet
    val got = KvCommands.tableAsOf(spark, path, v1)
      .filter(col("a").between(10, 19) && col("b").between(30, 39))
      .select("a", "b", "v").collect().map(_.toSeq).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("a re-create with a new normalization keeps older snapshots exact") {
    def boxOf(df: org.apache.spark.sql.DataFrame, lo: Long) =
      df.filter(col("a").between(lo + 10, lo + 19) && col("b") < 5)
        .select("a", "b", "v").collect().map(_.toSeq).toSet
    val path = tmpTable()
    KvCommands.createZOrderTable(grid, path, Seq("a", "b"))
    val upd = grid.filter(col("a") === 12L).select(
      col("a"), col("b"), lit(-1L).as("v"))
    KvCommands.append(upd, path)
    val old = KvCommands.snapshots(path).last
    val oldSpecs = GraftKvMeta.read(path).get.zorder
    val truth = boxOf(grid.filter(col("a") =!= 12L).unionByName(upd), 0)
    // a moved range changes dim a's minCode; the old snapshot keeps its
    // own specs, so it answers a box exactly, and so does its RESTORE
    val wide = grid.select((col("a") + 5000).as("a"), col("b"), col("v"))
    KvCommands.createZOrderTable(wide, path, Seq("a", "b"))
    assert(GraftKvMeta.read(path).get.zorder != oldSpecs)
    assert(boxOf(KvCommands.table(spark, path), 5000) == boxOf(wide, 5000))
    assert(boxOf(KvCommands.tableAsOf(spark, path, old), 0) == truth)
    KvCommands.restoreTable(path, old)
    assert(GraftKvMeta.read(path).get.zorder == oldSpecs)
    assert(boxOf(KvCommands.table(spark, path), 0) == truth)
    // the same after OPTIMIZE … ZORDER BY re-keys the table (dims swapped)
    val pre = KvCommands.snapshots(path).last
    KvCommands.convertToZOrder(spark, path, Seq("b", "a"))
    assert(GraftKvMeta.read(path).get.keys == Seq("_z", "b", "a"))
    assert(boxOf(KvCommands.table(spark, path), 0) == truth)
    assert(boxOf(KvCommands.tableAsOf(spark, path, pre), 0) == truth)
    KvCommands.restoreTable(path, pre)
    assert(GraftKvMeta.read(path).get.keys == Seq("_z", "a", "b"))
    assert(boxOf(KvCommands.table(spark, path), 0) == truth)
  }

  test("string dims cluster and filter correctly") {
    val path = tmpTable()
    val df = Seq.tabulate(2000)(i =>
      (f"u${i % 40}%03d", (i / 40).toLong, i.toLong))
      .toDF("user", "seq", "v")
    KvCommands.createZOrderTable(df, path, Seq("user", "seq"))
    val back = KvCommands.table(spark, path)
    val got = back.filter(col("user") === "u007" && col("seq") < 10)
      .select("user", "seq", "v").collect().map(_.toSeq).toSet
    val exp = df.filter(col("user") === "u007" && col("seq") < 10)
      .collect().map(_.toSeq).toSet
    assert(got == exp && got.nonEmpty)
  }
}
