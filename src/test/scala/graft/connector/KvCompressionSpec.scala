package graft.connector

import graft.TestSpark
import graft.codec.OrderedCodec
import graft.store.SegmentFile
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Segment data-file block compression (`segment.compress` = lz4 |
  * zstd, zstd when unset; `none` opts out): the self-describing frame
  * format, logical-offset seeks, the persisted-property lifecycle
  * (create → append → DML → compaction → conversion), mixed-codec
  * tables, and the planner's size estimate, which counts decoded bytes.
  * The sidecar and every pruning / metadata-claim structure are
  * codec-oblivious — all of that is pinned by asserting byte-identical
  * query results and statistics against an uncompressed twin of the
  * same data. */
class KvCompressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def magicOf(dir: String, file: String): Int = {
    val in = Files.newInputStream(Paths.get(dir, file))
    try {
      val b = in.readNBytes(4)
      ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
        ((b(2) & 0xff) << 8) | (b(3) & 0xff)
    } finally in.close()
  }

  private def assertAllCompressed(path: String): Unit =
    SegmentFile.listSegments(path).foreach { m =>
      assert(magicOf(path, m.file) == SegmentFile.Compression.Magic,
        s"${m.file} is not compressed")
    }

  // ── SegmentFile layer ───────────────────────────────────────────────────

  test("compressed writer/reader round-trip; sparse-index seeks stay logical") {
    for (codec <- Seq("lz4", "zstd")) {
      val dir = Files.createTempDirectory(s"segcomp_$codec").toString
      val w = new SegmentFile.Writer(dir, "s0", indexEvery = 100,
        compress = codec)
      val value = ("the quick brown fox " * 10).getBytes // compressible
      (0 until 10000).foreach { i =>
        w.write(OrderedCodec.encodeLong(i.toLong), value)
      }
      val meta = w.close()
      assert(meta.count == 10000 && meta.index.length == 99)
      // physically smaller than the logical stream
      val logical = 10000L * (8 + 8 + value.length)
      assert(meta.sizeBytes < logical / 4,
        s"$codec: ${meta.sizeBytes} bytes vs $logical logical — no compression?")
      assert(magicOf(dir, "s0.kv") == SegmentFile.Compression.Magic)

      // full scan decodes every record intact
      val r0 = new SegmentFile.Reader(dir, "s0.kv")
      var n = 0
      r0.foreach { case (k, v) =>
        assert(OrderedCodec.decodeLong(k) == n && java.util.Arrays.equals(v, value))
        n += 1
      }
      assert(n == 10000)

      // a floorOffset seek (logical bytes) lands within one index stride
      val rt = SegmentFile.readMeta(dir, "s0")
      val off = SegmentFile.floorOffset(rt, OrderedCodec.encodeLong(9000L))
      assert(off > 0)
      val r = new SegmentFile.Reader(dir, "s0.kv", off)
      val keys = r.map { case (k, _) => OrderedCodec.decodeLong(k) }.toVector
      assert(keys.length <= 1100, s"$codec: read ${keys.length} from offset")
      assert(keys.head <= 9000L && keys.contains(9000L) && keys.last == 9999L)

      // forward re-seek (skipForwardTo) across a gap, mid-stream
      val r2 = new SegmentFile.Reader(dir, "s0.kv")
      r2.next(); r2.next()
      val off2 = SegmentFile.floorOffset(rt, OrderedCodec.encodeLong(5000L))
      r2.skipForwardTo(off2)
      val k2 = OrderedCodec.decodeLong(r2.next()._1)
      assert(k2 <= 5000L && k2 > 4000L, s"$codec: landed at $k2")
      r2.close()
    }
  }

  test("a tombstone-bearing compressed segment reads back marker-exact") {
    val dir = Files.createTempDirectory("segcomp_tomb").toString
    val w = new SegmentFile.Writer(dir, "s0", compress = "zstd")
    (0 until 100).foreach { i =>
      w.write(OrderedCodec.encodeLong(i.toLong),
        if (i % 7 == 0) null else Array[Byte](1, 2))
    }
    val meta = w.close()
    assert(meta.tombstones == 15)
    val got = new SegmentFile.Reader(dir, "s0.kv").toVector
    assert(got.length == 100)
    got.zipWithIndex.foreach { case ((k, v), i) =>
      assert(OrderedCodec.decodeLong(k) == i)
      assert((v == null) == (i % 7 == 0))
    }
  }

  // ── connector lifecycle ─────────────────────────────────────────────────

  private def corpus = spark.range(20000).select(
    col("id").as("k"),
    concat(lit("payload words repeat here "), (col("id") % 50).cast("string"))
      .as("s"),
    (col("id") % 97).as("v"))

  test("zstd table: scans, filters, point gets equal the uncompressed twin") {
    val plain = tmpTable("kvcomp_plain")
    val comp = tmpTable("kvcomp_zstd")
    KvCommands.createTable(corpus, plain, Seq("k"), maxSegBytes = Some(65536L),
      compress = Some("none"))
    KvCommands.createTable(corpus, comp, Seq("k"), maxSegBytes = Some(65536L),
      compress = Some("zstd"))
    assertAllCompressed(comp)
    assert(GraftKvMeta.read(comp).get.props
      .get(GraftKvMeta.SegmentCompressProp).contains("zstd"))
    // compressed segments are materially smaller on this corpus
    val pb = SegmentFile.listSegments(plain).map(_.sizeBytes).sum
    val cb = SegmentFile.listSegments(comp).map(_.sizeBytes).sum
    assert(cb < pb / 2, s"compressed $cb vs plain $pb")

    val p = KvCommands.table(spark, plain)
    val c = KvCommands.table(spark, comp)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(c) == rows(p))
    for (pred <- Seq(col("k") === 12345L, col("k").between(3000L, 3200L),
      col("k").isin(5L, 9999L, 19998L), col("v") === 13L && col("k") > 15000L))
      assert(rows(c.filter(pred)) == rows(p.filter(pred)), s"pred $pred")
  }

  test("point-range reads on a compressed segment still seek (decoded ≈ matched)") {
    val path = tmpTable("kvcomp_seek")
    KvCommands.createTable(corpus.coalesce(1), path, Seq("k"),
      compress = Some("zstd"))
    assert(SegmentFile.listSegments(path).length == 1)
    val meta = GraftKvMeta.read(path).get
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array(org.apache.spark.sql.sources.In("k",
        Array[Any](100L, 10000L, 19990L))), -1)
    val parts = scan.planInputPartitions()
    assert(parts.length == 1)
    val reader = scan.createReaderFactory().createReader(parts(0))
      .asInstanceOf[GraftKvPartitionReader]
    var n = 0
    while (reader.next()) n += 1
    assert(n == 3)
    // the same bound as the uncompressed IN-list seek test: index-floor
    // seeks cross compressed frames without decoding through the gaps
    assert(reader.decodedCount <= 1000,
      s"decoded ${reader.decodedCount} records for 3 matches")
    reader.close()
  }

  test("appends, DML, and compaction all honor the persisted codec") {
    val path = tmpTable("kvcomp_life")
    KvCommands.createTable(corpus, path, Seq("k"), compress = Some("lz4"))
    // append WITHOUT restating the option
    KvCommands.append(spark.range(20000, 21000).select(col("id").as("k"),
      lit("appended row").as("s"), lit(7L).as("v")), path)
    assertAllCompressed(path)
    assert(KvCommands.table(spark, path).count() == 21000)

    // DELETE's tombstone delta segments are compressed too
    KvCommands.delete(spark, path, col("k") >= 20500L)
    assertAllCompressed(path)
    assert(KvCommands.table(spark, path).count() == 20500)

    // major compaction rewrites into the declared codec
    KvCommands.compact(spark, path)
    assertAllCompressed(path)
    assert(KvCommands.table(spark, path).count() == 20500)
    assert(GraftKvMeta.read(path).get.props
      .get(GraftKvMeta.SegmentCompressProp).contains("lz4"))
  }

  test("mixed-codec table: segments auto-detect per file") {
    val path = tmpTable("kvcomp_mixed")
    // uncompressed create, compressed append — reads must merge both
    KvCommands.createTable(corpus.filter(col("k") < 10000), path, Seq("k"),
      compress = Some("none"))
    spark.range(10000, 20000).select(col("id").as("k"),
      lit("late compressed").as("s"), (col("id") % 97).as("v"))
      .write.format("graftkv")
      .option(GraftKvMeta.SegmentCompressProp, "zstd")
      .mode("append").save(path)
    val magics = SegmentFile.listSegments(path)
      .map(m => magicOf(path, m.file) == SegmentFile.Compression.Magic)
    assert(magics.contains(true) && magics.contains(false),
      "expected a mix of compressed and plain segments")
    val t = KvCommands.table(spark, path)
    assert(t.count() == 20000)
    assert(t.filter(col("k").isin(9999L, 10000L)).count() == 2)
    // per-write override semantics (same as segment.maxbytes): the
    // append's option governed THAT write but did not mutate the
    // table's persisted property
    assert(GraftKvMeta.read(path).get.props
      .get(GraftKvMeta.SegmentCompressProp).contains("none"))
  }

  test("a table created without the property writes zstd frames and persists no codec") {
    val path = tmpTable("kvcomp_default")
    KvCommands.createTable(corpus, path, Seq("k"), maxSegBytes = Some(65536L))
    assert(SegmentFile.Compression.Default == SegmentFile.Compression.Zstd)
    assertAllCompressed(path)
    assert(GraftKvMeta.read(path).get.props
      .get(GraftKvMeta.SegmentCompressProp).isEmpty)
    // an un-restated append follows the default too
    KvCommands.append(spark.range(20000, 20100).select(col("id").as("k"),
      lit("appended row").as("s"), lit(7L).as("v")), path)
    assertAllCompressed(path)
    assert(KvCommands.table(spark, path).count() == 20100)
  }

  // ── planner statistics ─────────────────────────────────────────────────

  private def twins(prefix: String): (String, String) = {
    val plain = tmpTable(s"${prefix}_plain")
    val comp = tmpTable(s"${prefix}_zstd")
    KvCommands.createTable(corpus, plain, Seq("k"), maxSegBytes = Some(65536L),
      compress = Some("none"))
    KvCommands.createTable(corpus, comp, Seq("k"), maxSegBytes = Some(65536L),
      compress = Some("zstd"))
    (plain, comp)
  }

  private def stats(path: String) = {
    val meta = GraftKvMeta.read(path).get
    new GraftKvScan(path, meta.schema, meta.keys, meta.schema, Array.empty, -1)
      .estimateStatistics()
  }

  test("the size estimate is decoded bytes: a zstd table equals its plain twin") {
    val (plain, comp) = twins("kvcomp_est")
    val (sp, sc) = (stats(plain), stats(comp))
    assert(sc.sizeInBytes() == sp.sizeInBytes(),
      s"zstd estimate ${sc.sizeInBytes()} vs plain ${sp.sizeInBytes()}")
    assert(sc.numRows() == sp.numRows() && sp.numRows().getAsLong == 20000L)
    // a plain segment's decoded size is its file size; the zstd files
    // are materially smaller than what the estimate reports
    assert(sp.sizeInBytes().getAsLong ==
      SegmentFile.listSegments(plain).map(_.sizeBytes).sum)
    assert(SegmentFile.listSegments(comp).map(_.sizeBytes).sum <
      sc.sizeInBytes().getAsLong / 2)
  }

  test("a join does not broadcast a zstd table whose decoded size is over the threshold") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val (plain, comp) = twins("kvcomp_bcast")
    val segs = SegmentFile.listSegments(comp)
    val (onDisk, decoded) = (segs.map(_.sizeBytes).sum, segs.map(_.rawBytes).sum)
    assert(onDisk < decoded / 2, s"on disk $onDisk vs decoded $decoded")
    // the other side is larger than every threshold below, so only the
    // kv side could be broadcast
    val fact = spark.range(400000).select((col("id") % 20000).as("k"),
      col("id").as("x"))
    def broadcasts(path: String, threshold: Long): Boolean = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      try fact.join(KvCommands.table(spark, path), Seq("k"))
        .queryExecution.sparkPlan
        .collect { case j: BroadcastHashJoinExec => j }.nonEmpty
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val between = (onDisk + decoded) / 2
    assert(!broadcasts(plain, between), "plain twin broadcast")
    assert(!broadcasts(comp, between),
      s"zstd table broadcast at threshold $between: its estimate is the " +
        s"$onDisk bytes on disk, not the $decoded decoded")
    // control: above the decoded size, both sides broadcast alike
    assert(broadcasts(plain, decoded * 2) && broadcasts(comp, decoded * 2))
  }

  test("an unknown codec is rejected at plan time") {
    val path = tmpTable("kvcomp_bad")
    val e = intercept[Exception] {
      KvCommands.createTable(corpus.limit(10), path, Seq("k"),
        compress = Some("snappy"))
    }
    assert(e.getMessage.contains("segment.compress"), e.getMessage)
  }

  test("OPTIMIZE ZORDER conversion keeps the codec") {
    val path = tmpTable("kvcomp_zconv")
    val df = spark.range(5000).select(col("id").as("k"),
      (col("id") % 50).as("x"), expr("id div 50").as("y"),
      lit("zorder payload text that compresses well").as("s"))
    KvCommands.createTable(df, path, Seq("k"), compress = Some("zstd"))
    KvCommands.convertToZOrder(spark, path, Seq("x", "y"))
    assertAllCompressed(path)
    val m = GraftKvMeta.read(path).get
    assert(m.props.get(GraftKvMeta.SegmentCompressProp).contains("zstd"))
    assert(KvCommands.table(spark, path)
      .filter(col("x") === 7L && col("y") === 3L).count() == 1)
  }
}
