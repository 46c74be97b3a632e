package graft.connector

import graft.TestSpark
import graft.store.SegmentFile
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end semantics of the graftkv DSv2 connector: lossless
  * write→read round-trip, sorted disjoint segments, key-range segment
  * pruning, null handling, append and overwrite. */
class KvConnectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graftkv_test").toString + "/t"

  private def sample = Seq(
    (5L, 2, "c", Some(2.5), Some("x")),
    (1L, 1, "a", Some(1.0), None),
    (3L, 1, "b", None, Some("y")),
    (1L, 2, "a2", Some(-7.25), Some("z")),
    (-4L, 9, "neg", Some(0.0), Some(""))
  ).toDF("k1", "k2", "s", "d", "v")

  test("meta header round-trips every field combination (encoding × zorder × props)") {
    import graft.codec.{ZDim, ZOrder}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType)))
    val zd = Seq(ZDim("a", ZOrder.codeLong(0L), 2), ZDim("b", ZOrder.codeLong(5L), 0))
    for {
      enc <- Seq(graft.store.RowCodec.Binary, graft.store.RowCodec.StringFormat)
      z <- Seq(Nil, zd)
      p <- Seq(Map.empty[String, String],
        Map(GraftKvMeta.StringZoneMaxCharsProp -> "100",
          GraftKvMeta.SegmentMaxBytesProp -> "65536"))
    } {
      val dir = Files.createTempDirectory("graftkv_meta_rt").toString
      assert(SegmentFile.createManifest(dir, SegmentFile.Manifest(
        GraftKvMeta.encode(KvTableMeta(schema, Seq("a"), enc, z, p)), Set.empty)))
      val m = GraftKvMeta.read(dir).get
      assert(m.schema == schema && m.keys == Seq("a") && m.encoding == enc,
        s"enc=$enc z=$z p=$p: $m")
      assert(m.zorder == z, s"zorder drift: ${m.zorder} vs $z")
      assert(m.props == p, s"props drift: ${m.props} vs $p")
    }
    // separator characters in a property would tear the header: refused
    intercept[IllegalArgumentException](
      GraftKvMeta.encode(KvTableMeta(schema, Seq("a"),
        graft.store.RowCodec.Binary, props = Map("x" -> "a|b"))))
  }

  test("segment.maxBytes persists as a table property; appends honor it") {
    val path = tmpTable()
    def rows(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("k"), col("id").as("v"))
    rows(0, 200000).write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "65536").mode("overwrite").save(path)
    assert(GraftKvMeta.read(path).get
      .props(GraftKvMeta.SegmentMaxBytesProp) == "65536")
    assert(SegmentFile.listSegments(path).map(_.sizeBytes).max <= 65536L * 2)
    // append WITHOUT restating the option: the persisted size governs
    // (pre-round-9 an un-restated append reverted to the 256 MB
    // default, silently changing the table's region size)
    rows(200000, 400000).write.format("graftkv").mode("append").save(path)
    assert(SegmentFile.listSegments(path).map(_.sizeBytes).max <= 65536L * 2,
      "append ignored the persisted segment size")
    // an explicit per-write override wins WITHOUT mutating the property
    rows(400000, 600000).write.format("graftkv")
      .option("segment.maxBytes", (256L << 20).toString)
      .mode("append").save(path)
    assert(SegmentFile.listSegments(path).map(_.sizeBytes).max > 65536L * 2,
      "the per-write override did not apply")
    assert(GraftKvMeta.read(path).get
      .props(GraftKvMeta.SegmentMaxBytesProp) == "65536",
      "a one-off write option must not rewrite the persisted property")
    assert(KvCommands.table(spark, path).count() == 600000L)
  }

  test("write → read round-trip is lossless (incl. nulls, negatives, empty strings)") {
    val path = tmpTable()
    KvCommands.createTable(sample, path, Seq("k1", "k2"))
    val back = KvCommands.table(spark, path)
    assert(back.schema.fieldNames.toSeq == sample.schema.fieldNames.toSeq)
    val exp = sample.collect().map(_.toSeq).toSet
    val got = back.collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("segments are sorted and key-disjoint") {
    val path = tmpTable()
    val df = spark.range(1000).select(
      (col("id") * 7919 % 1000).as("k"), col("id").as("payload"))
    KvCommands.createTable(df, path, Seq("k"))
    val metas = SegmentFile.listSegments(path)
    assert(metas.nonEmpty)
    // disjoint, ordered ranges across segments
    val sorted = metas.sortWith((a, b) =>
      graft.codec.OrderedCodec.compare(a.minKey, b.minKey) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.codec.OrderedCodec.compare(a.maxKey, b.minKey) <= 0)
      case _ => ()
    }
    assert(metas.map(_.count).sum == 1000)
  }

  test("a WIDE IN list (point-get batching at scale) stays exact and fast") {
    // thousands of point ranges: the consumed-filter reader enforces
    // them record-exactly, so every membership/seek structure on the
    // path (candidate qualification, range checks, gap seeks, index
    // floors) runs at this cardinality — sublinear or this test crawls
    val path = tmpTable()
    val df = spark.range(50000).select(col("id").as("k"), (col("id") % 7).as("v"))
    KvCommands.createTable(df, path, Seq("k"))
    val rnd = new scala.util.Random(5)
    val wanted = Seq.fill(3000)(rnd.nextLong(60000)).distinct // ~17% misses
    val got = KvCommands.table(spark, path)
      .filter(col("k").isin(wanted: _*))
      .collect().map(_.getLong(0)).toSet
    assert(got == wanted.filter(_ < 50000).toSet)
  }

  test("IN-list scan re-seeks across gaps: decoded ≈ matched, not segment size") {
    val path = tmpTable()
    // one big segment so gap-skipping (not segment pruning) does the work
    val df = spark.range(20000).coalesce(1)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    KvCommands.createTable(df, path, Seq("k"))
    val meta = GraftKvMeta.read(path).get
    assert(SegmentFile.listSegments(path).length == 1)
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array(org.apache.spark.sql.sources.In("k", Array[Any](100L, 10000L, 19990L))), -1)
    val parts = scan.planInputPartitions()
    assert(parts.length == 1)
    val reader = scan.createReaderFactory().createReader(parts(0))
      .asInstanceOf[GraftKvPartitionReader]
    var rows = 0
    while (reader.next()) rows += 1
    // 3 point ranges, sparse index every 256 records: each seek lands at
    // most one index stride behind its target, so decoded stays within
    // ~3×256 + matched — nowhere near the 20k-record segment
    assert(rows == 3)
    assert(reader.decodedCount <= 1000,
      s"decoded ${reader.decodedCount} records for 3 matches (no re-seek?)")
    reader.close()

    // regression: an exclusive lower bound (k > 50) puts record k=50 ON
    // the excluded bound — the gap re-seek must not leapfrog the range
    // interior (51..120) to the next range
    val scan2 = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan("k", 50L),
        org.apache.spark.sql.sources.LessThanOrEqual("k", 120L)), -1)
    val r2 = scan2.createReaderFactory()
      .createReader(scan2.planInputPartitions()(0))
      .asInstanceOf[GraftKvPartitionReader]
    val ks = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r2.next()) ks += r2.get().getLong(0)
    r2.close()
    assert(ks.toSeq == (51L to 120L), s"got ${ks.take(5)}..${ks.takeRight(5)}")
  }

  test("pinned leading dims drive a dimension-descent seek + early stop") {
    val path = tmpTable()
    // 10 k1 blocks × 2000 k2 rows each (block >> 256-record index
    // stride, so a lead-only seek would decode ~1900 rows of block 5
    // before reaching the k2 range), single segment
    val df = spark.range(20000).coalesce(1).select(
      (col("id") / 2000).cast("long").as("k1"),
      pmod(col("id"), lit(2000)).cast("long").as("k2"),
      col("id").as("v"))
    KvCommands.createTable(df, path, Seq("k1", "k2"))
    val meta = GraftKvMeta.read(path).get
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("k1", 5L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("k2", 1900L),
        org.apache.spark.sql.sources.LessThanOrEqual("k2", 1910L)), -1)
    val rdr = scan.createReaderFactory()
      .createReader(scan.planInputPartitions()(0))
      .asInstanceOf[GraftKvPartitionReader]
    // the raw reader enforces only the lead dim + the descent bounds;
    // up to one index stride of k2 < 1900 slop is legitimate (Spark
    // re-evaluates the k2 residuals) — count the true matches
    var matched = 0
    while (rdr.next()) {
      val r = rdr.get()
      assert(r.getLong(0) == 5L) // lead pin enforced exactly
      if (r.getLong(1) >= 1900L && r.getLong(1) <= 1910L) matched += 1
    }
    rdr.close()
    assert(matched == 11)
    // seeks to (5,1900)'s floor and stops past (5,1910): decoded stays
    // within ~one index stride, not the ~1900 rows a lead-only seek
    // walks through, let alone the 20k-record segment
    assert(rdr.decodedCount < 600,
      s"decoded ${rdr.decodedCount} records for 11 matches (no deep seek?)")
  }

  test("multi-range lead + dim-2 window: composite gap seeks per lead " +
      "group (multi-dim skip scan)") {
    val path = tmpTable()
    // 10 k1 blocks × 2000 k2 rows, single segment
    val df = spark.range(20000).coalesce(1).select(
      (col("id") / 2000).cast("long").as("k1"),
      pmod(col("id"), lit(2000)).cast("long").as("k2"),
      col("id").as("v"))
    KvCommands.createTable(df, path, Seq("k1", "k2"))
    val meta = GraftKvMeta.read(path).get
    // k1 spans FOUR blocks (a range, not a pin — the dimension-descent
    // deep seek cannot fire) and k2 a narrow window: pre-round-14 the
    // reader walked all four blocks whole (~8000 records); with dim-2
    // qualified ranges it seeks to each block's k2 window
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("k1", 3L),
        org.apache.spark.sql.sources.LessThanOrEqual("k1", 6L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("k2", 1900L),
        org.apache.spark.sql.sources.LessThanOrEqual("k2", 1910L)), -1)
    val rdr = scan.createReaderFactory()
      .createReader(scan.planInputPartitions()(0))
      .asInstanceOf[GraftKvPartitionReader]
    var matched = 0
    var rows = 0
    while (rdr.next()) {
      val r = rdr.get()
      rows += 1
      assert(r.getLong(0) >= 3L && r.getLong(0) <= 6L) // lead enforced
      if (r.getLong(1) >= 1900L && r.getLong(1) <= 1910L) matched += 1
    }
    rdr.close()
    assert(matched == 44) // 4 blocks × 11-row window
    // 4 lead groups × (≤ one 256-record index stride + 11 matches) plus
    // the last block's tail drain — nowhere near the ~8000 records of
    // blocks 3..6 a lead-only enforcement decodes
    assert(rdr.decodedCount < 2200,
      s"decoded ${rdr.decodedCount} records for 44 matches (no dim-2 seek?)")
  }

  test("3-key table probed on dims 1+3: dim-3 window seeks INSIDE each " +
      "(k1,k2) group and prefix-successor jumps BETWEEN groups") {
    val path = tmpTable()
    // 4 k1 × 2 k2 × 5000 k3 = 40000 rows, one segment; the unfiltered
    // middle dimension is the r14 gap — its blocks were walked whole
    val df = spark.range(40000).coalesce(1).select(
      (col("id") / 10000).cast("long").as("k1"),
      (pmod(col("id"), lit(10000)) / 5000).cast("long").as("k2"),
      pmod(col("id"), lit(5000)).cast("long").as("k3"),
      col("id").as("v"))
    KvCommands.createTable(df, path, Seq("k1", "k2", "k3"))
    val meta = GraftKvMeta.read(path).get
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("k1", 1L),
        org.apache.spark.sql.sources.LessThanOrEqual("k1", 2L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("k3", 100L),
        org.apache.spark.sql.sources.LessThanOrEqual("k3", 110L)), -1)
    val rdr = scan.createReaderFactory()
      .createReader(scan.planInputPartitions()(0))
      .asInstanceOf[GraftKvPartitionReader]
    var matched = 0
    while (rdr.next()) {
      val r = rdr.get()
      assert(r.getLong(0) >= 1L && r.getLong(0) <= 2L) // lead enforced
      if (r.getLong(2) >= 100L && r.getLong(2) <= 110L) matched += 1
    }
    rdr.close()
    assert(matched == 44) // 2 k1 × 2 k2 × 11-row k3 window
    // decoded ≈ matched + (per-group sparse-index slop): 4 (k1,k2)
    // groups × (≤256-record floor slop into the window + 11 matches +
    // ≤256 slop after the successor jump) ≈ ~2100 worst case — the
    // r14 reader walked both qualified k1 blocks whole (20000 records)
    // because dim 2 is unconstrained and the descent stopped at keys(1)
    assert(rdr.decodedCount < 3000,
      s"decoded ${rdr.decodedCount} records for 44 matches " +
        "(no dim-3 seek / no prefix-successor jump?)")
  }

  test("partitions carry segment-specialized residual ranges") {
    val path = tmpTable()
    val df = spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("v"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val meta = GraftKvMeta.read(path).get
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", Array[Any](100L, 9000L))), -1)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftKvInputPartition])
    assert(parts.length == 2) // one segment per point survives
    // each partition ships ONLY the point range inside its own span
    // (reference HBasePartition's per-partition simplified residual)
    parts.foreach { p =>
      assert(p.partitionRanges.isDefined)
      assert(p.partitionRanges.get.ranges.length == 1,
        p.partitionRanges.get.ranges.toString)
    }
    assert(parts(0).partitionRanges.get.ranges != parts(1).partitionRanges.get.ranges)
  }

  test("segment rotation bounds segment size and keeps lead-dim disjointness") {
    val path = tmpTable()
    // one writer partition, tiny rotation threshold → many segments;
    // v joins the key so the 100 rows per lead value are distinct
    // composite keys, not Put-upserts of one key
    val df = spark.range(50000).coalesce(1).select(
      (col("id") / 100).cast("long").as("k"), col("id").as("v"))
    df.write.format("graftkv").option("key", "k,v")
      .option("segment.maxBytes", "65536")
      .mode("overwrite").save(path)
    val metas = SegmentFile.listSegments(path)
    assert(metas.length > 3, s"expected rotations, got ${metas.length} segment(s)")
    assert(metas.map(_.count).sum == 50000)
    val m = GraftKvMeta.read(path).get
    val codec = graft.store.RowCodec(m.schema, m.keys, m.encoding)
    // rotations align to lead-value boundaries → strictly disjoint leads,
    // so KeyGroupedPartitioning (shuffle-free GROUP BY) is preserved
    val sorted = metas.sortWith((a, b) => codec.compareKeys(a.minKey, b.minKey) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(codec.decodeKeyNormalized(a.maxKey)(0).asInstanceOf[Long] <
          codec.decodeKeyNormalized(b.minKey)(0).asInstanceOf[Long])
      case _ => ()
    }
    assert(KvCommands.table(spark, path).count() == 50000)
  }

  test("leading-key filter prunes segments at planning time") {
    val path = tmpTable()
    val df = spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("v"))
    // disable AQE partition coalescing so the tiny fixture still yields
    // multiple segments (at real scale the size targets do this naturally)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      df.write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val schema = GraftKvMeta.read(path).get.schema
    val all = new GraftKvScan(path, schema, Seq("k"), schema, Array.empty, -1)
      .planInputPartitions().length
    val pruned = new GraftKvScan(path, schema, Seq("k"), schema,
      Array(org.apache.spark.sql.sources.EqualTo("k", 5000L)), -1)
      .planInputPartitions().length
    assert(all > 1, s"expected multiple segments, got $all")
    assert(pruned == 1, s"point lookup should prune to 1 segment, got $pruned/$all")
    // and the pruned query still returns the right row
    val row = KvCommands.table(spark, path).filter(col("k") === 5000L).collect()
    assert(row.length == 1 && row.head.getLong(1) == 10000L)

    // IN-list: only segments containing one of the points survive
    val inPruned = new GraftKvScan(path, schema, Seq("k"), schema,
      Array(org.apache.spark.sql.sources.In("k", Array(5L, 9990L))), -1)
      .planInputPartitions().length
    assert(inPruned == 2, s"IN-list should prune to 2 segments, got $inPruned/$all")
    // unsatisfiable conjunction prunes everything
    val none = new GraftKvScan(path, schema, Seq("k"), schema,
      Array(org.apache.spark.sql.sources.LessThan("k", 8L),
        org.apache.spark.sql.sources.GreaterThan("k", 8L)), -1)
      .planInputPartitions().length
    assert(none == 0, s"contradiction should prune all segments, got $none")
    val inRows = KvCommands.table(spark, path)
      .filter(col("k").isin(5L, 9990L)).collect().map(_.getLong(0)).sorted
    assert(inRows.toSeq == Seq(5L, 9990L))
  }

  test("bloom filters prune segments for point filters on non-leading key dims") {
    val path = tmpTable()
    // k2 correlates with the k1 range, so each range-partitioned segment
    // holds only 1-2 distinct k2 values — a bloom can prove absence
    val df = spark.range(10000).select(col("id").as("k1"),
      concat(lit("g"), (col("id") / 2500).cast("int")).as("k2"),
      col("id").as("v"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.write.format("graftkv").option("key", "k1,k2").mode("overwrite").save(path)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val schema = GraftKvMeta.read(path).get.schema
    val all = new GraftKvScan(path, schema, Seq("k1", "k2"), schema,
      Array.empty, -1).planInputPartitions().length
    assert(all > 1)
    val pruned = new GraftKvScan(path, schema, Seq("k1", "k2"), schema,
      Array(org.apache.spark.sql.sources.EqualTo("k2", "g0")), -1)
      .planInputPartitions().length
    assert(pruned < all, s"bloom should prune: $pruned of $all segments")
    // absent value prunes everything
    val none = new GraftKvScan(path, schema, Seq("k1", "k2"), schema,
      Array(org.apache.spark.sql.sources.EqualTo("k2", "nope")), -1)
      .planInputPartitions().length
    assert(none == 0, s"absent k2 value should prune all segments, got $none")
    // and results stay correct through the full query path
    assert(KvCommands.table(spark, path).filter(col("k2") === "g0").count() == 2500)
  }

  test("append adds rows; overwrite replaces them") {
    val path = tmpTable()
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    KvCommands.append(Seq((2L, "b")).toDF("k", "v"), path)
    assert(KvCommands.table(spark, path).count() == 2)
    KvCommands.createTable(Seq((9L, "z")).toDF("k", "v"), path, Seq("k"))
    val rows = KvCommands.table(spark, path).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9L)
  }

  test("a key option that conflicts with the table's key fails loudly") {
    val path = tmpTable()
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      KvCommands.createTable(Seq((2L, "b")).toDF("k", "v"), path, Seq("v"))
    }
    assert(e.getMessage.contains("has key 'k'") &&
      e.getMessage.contains("fixed at table creation"), e.getMessage)
    // nothing was written: the table still holds its one row, keyed k
    assert(KvCommands.table(spark, path).collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
    assert(GraftKvMeta.read(path).map(_.keys).contains(Seq("k")))
    // restating the table's own key (spaces aside) still overwrites
    KvCommands.createTable(Seq((3L, "c")).toDF("k", "v"), path, Seq(" k "))
    assert(KvCommands.table(spark, path).collect().map(_.getLong(0)).toSeq ==
      Seq(3L))
  }

  test("compaction merges overlapping appended segments, preserving data") {
    val path = tmpTable()
    KvCommands.createTable(
      spark.range(0, 100, 2).select(col("id").as("k"), lit("even").as("v")),
      path, Seq("k"))
    KvCommands.append(
      spark.range(1, 100, 2).select(col("id").as("k"), lit("odd").as("v")), path)
    val before = SegmentFile.listSegments(path)
    // appended runs overlap the original key range
    assert(before.size >= 2)
    KvCommands.compact(spark, path)
    val after = SegmentFile.listSegments(path)
    val sorted = after.sortWith((a, b) =>
      graft.codec.OrderedCodec.compare(a.minKey, b.minKey) < 0)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.codec.OrderedCodec.compare(a.maxKey, b.minKey) <= 0)
      case _ => ()
    }
    assert(after.map(_.count).sum == 100)
    assert(KvCommands.table(spark, path).count() == 100)
    assert(KvCommands.table(spark, path).filter(col("k") === 41).head().getString(1) == "odd")
  }

  test("minor compaction rewrites only overlapping groups; manifest hides orphans") {
    val path = tmpTable()
    // disjoint far region [100000, 101000) — must never be rewritten —
    // plus an overlapping pile-up in [0, 100) from repeated appends
    KvCommands.createTable(
      spark.range(100000, 101000).select(col("id").as("k"), lit("far").as("v")),
      path, Seq("k"))
    val farFiles = SegmentFile.listSegments(path)
      .filter(m => graft.codec.OrderedCodec.decodeLong(m.minKey) >= 100000L)
      .map(_.file).toSet
    assert(farFiles.nonEmpty)
    // each run: 400 rows over [i, 2000+i) step 5 — runs interleave, so
    // every key region of [0, 2000) sees one segment per run
    for (i <- 0 until 5)
      KvCommands.append(
        spark.range(0, 2000, 5).select((col("id") + i).as("k"),
          lit(s"run$i").as("v")), path)
    assert(KvCommands.overlapDepth(path) >= 5)

    val rewritten = KvCommands.compactMinor(spark, path)
    assert(rewritten >= 5, s"expected the overlapping runs rewritten, got $rewritten")
    assert(KvCommands.overlapDepth(path) == 1) // fully disjoint again
    val after = SegmentFile.listSegments(path).map(_.file).toSet
    assert(farFiles.subsetOf(after), "disjoint segments must be left untouched")
    // all rows survive, with per-row values intact
    val t = KvCommands.table(spark, path)
    assert(t.count() == 1000 + 2000)
    assert(t.filter(col("k") === 7).head().getString(1) == "run2") // 7 = 5 + 2
    assert(t.filter(col("k") === 100007).head().getString(1) == "far")

    // a file in the directory but not in the manifest (a crash orphan)
    // is invisible to scans
    val orphanData = java.nio.file.Paths.get(path, "segment-orphan-000-deadbeef.kv")
    val liveSeg = SegmentFile.listSegments(path).head.file
    java.nio.file.Files.copy(java.nio.file.Paths.get(path, liveSeg), orphanData)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path, liveSeg.stripSuffix(".kv") + ".kvmeta"),
      java.nio.file.Paths.get(path, "segment-orphan-000-deadbeef.kvmeta"))
    assert(KvCommands.table(spark, path).count() == 3000,
      "orphan segment outside the manifest must not be scanned")

    // under the threshold, autoCompact is a no-op; above it, it fires
    assert(!KvCommands.autoCompact(spark, path, maxDepth = 4))
    for (i <- 0 until 6)
      KvCommands.append(
        spark.range(0, 10).select(col("id").as("k"), lit(s"b$i").as("v")), path)
    assert(KvCommands.autoCompact(spark, path, maxDepth = 4))
    assert(KvCommands.overlapDepth(path) == 1)
  }

  test("bulk load from CSV goes through the sorted-segment pipeline") {
    val dir = Files.createTempDirectory("graftkv_csv")
    val csv = dir.resolve("data.csv")
    Files.writeString(csv, "3,c\n1,a\n2,b\n")
    val path = dir.toString + "/t"
    KvCommands.bulkLoadCsv(spark, csv.toString, "k LONG, v STRING", path, Seq("k"))
    val rows = KvCommands.table(spark, path).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("describe reports key order and roles") {
    val path = tmpTable()
    KvCommands.createTable(sample, path, Seq("k1", "k2"))
    val d = KvCommands.describe(spark, path).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(d("k1") == "KEY(0)" && d("k2") == "KEY(1)" && d("s") == "NONKEY")
  }

  test("timestamp-ntz and double columns round-trip through the kv store") {
    val path = tmpTable()
    val df = graft.Tables.table(spark, TestSpark.sf, "orders").limit(100)
    KvCommands.createTable(df, path, Seq("o_orderkey"))
    val back = KvCommands.table(spark, path)
    assert(back.count() == 100)
    val a = df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("join of differently-bounded kv tables never drops rows (SPJ safety)") {
    // Two tables over overlapping but shifted key domains range-shuffle
    // to DIFFERENT segment boundaries. Under the default Spark config
    // (partition-value padding ON) the scan must NOT claim
    // KeyGroupedPartitioning for ranged segments — padding aligns
    // partitions by their min-key "values" and silently loses join rows.
    // The join must return the full result under either padding setting.
    val pathA = tmpTable()
    val pathB = tmpTable()
    KvCommands.createTable(
      spark.range(0, 1200).select(col("id").as("k"), (col("id") * 2).as("va")),
      pathA, Seq("k"))
    KvCommands.createTable(
      spark.range(600, 1800).select(col("id").as("k"), (col("id") + 1).as("vb")),
      pathB, Seq("k"))
    assert(SegmentFile.listSegments(pathA).map(_.minKey.toSeq).toSet !=
      SegmentFile.listSegments(pathB).map(_.minKey.toSeq).toSet,
      "fixture should produce differing segment boundaries")
    val prevPush = spark.conf.get("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (push <- Seq("true", "false")) {
        spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", push)
        val j = KvCommands.table(spark, pathA)
          .join(KvCommands.table(spark, pathB), "k")
        assert(j.count() == 600L, s"pushPartValues=$push lost join rows")
      }
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", prevPush)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("columnar scan: batches decode all types identically to the row reader") {
    // DataFrame reads drain the scan through ColumnarBatch (parquet-style);
    // the row reader remains the semantic reference. Pin (a) the plan is
    // actually columnar and (b) every supported type — nulls included —
    // decodes to the same values through both materializations.
    val binPath = tmpTable()
    val wide = Seq(
      (1L, 7, "a", Some(2.5f), Some(true), Some(3.toShort), Some(9.toByte),
        Some("payload"), Some(Array[Byte](1, 2, 3))),
      (2L, 8, "b", None, None, None, None, None, None),
      (3L, 9, "c", Some(-0.5f), Some(false), Some(-3.toShort), Some(-9.toByte),
        Some(""), Some(Array.empty[Byte]))
    ).toDF("k1", "k2", "s", "f", "bool", "sh", "by", "v", "bin")
    KvCommands.createTable(wide, binPath, Seq("k1", "k2"))
    val df = KvCommands.table(spark, binPath)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString.take(1200))
    def norm(x: Any): Any = x match {
      case a: Array[Byte] => a.toSeq
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => other
    }
    val viaBatch = df.collect().map(r => r.toSeq.map(norm)).toSet
    val meta = GraftKvMeta.read(binPath).get
    val rowReader = new GraftKvScan(binPath, meta.schema, meta.keys,
      meta.schema, Array.empty, -1)
    val fields = meta.schema.fields
    val viaRows = rowReader.planInputPartitions().flatMap { p =>
      val r = rowReader.createReaderFactory().createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (r.next()) {
        val row = r.get()
        buf += fields.indices.map(i =>
          norm(if (row.isNullAt(i)) null else row.get(i, fields(i).dataType))).toSeq
      }
      r.close(); buf
    }.toSet
    assert(viaBatch == viaRows)

    // stringformat tables run the ascii-parse vector path; projection
    // subsets skip unselected cells byte-wise
    val strPath = tmpTable()
    KvCommands.createTable(sample, strPath, Seq("k1", "k2"),
      encoding = graft.store.RowCodec.StringFormat)
    val proj = KvCommands.table(spark, strPath).select("k2", "d")
    proj.collect()
    assert(proj.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(proj.collect().map(_.toSeq).toSet ==
      sample.select("k2", "d").collect().map(_.toSeq).toSet)
  }

  test("-0.0 stored in a double key column matches k = 0.0 (SQL equality)") {
    // IEEE total order puts -0.0 below +0.0, but SQL equality (and the
    // normalized filter domain) treats them equal — keys canonicalize
    // at write so the stored byte order agrees with query semantics
    for (enc <- Seq(graft.store.RowCodec.Binary, graft.store.RowCodec.StringFormat)) {
      val path = tmpTable()
      KvCommands.createTable(
        Seq((-0.0d, "negzero"), (1.5d, "one-and-a-half"), (-2.0d, "neg"))
          .toDF("k", "v"),
        path, Seq("k"), encoding = enc)
      val t = KvCommands.table(spark, path)
      assert(t.filter(col("k") === 0.0d).collect().map(_.getString(1)).toSeq ==
        Seq("negzero"), s"encoding=$enc point filter")
      assert(t.filter(col("k") >= 0.0d && col("k") < 1.0d)
        .collect().map(_.getString(1)).toSeq == Seq("negzero"),
        s"encoding=$enc range filter")
    }
  }

  test("value-column zone maps prune segments; nulls disable the claim") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan, IsNull}
    // payload correlates with the key (the honest zone-map case): a
    // tight payload band must plan a fraction of the segments
    val path = tmpTable()
    spark.range(0, 20000).select(col("id").as("k"), (col("id") * 3).as("payload"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", (16 * 1024).toString)
      .mode("overwrite").save(path)
    val m = GraftKvMeta.read(path).get
    val total = SegmentFile.listSegments(path).length
    assert(total >= 8, s"fixture should span many segments, got $total")
    def planned(filters: org.apache.spark.sql.sources.Filter*): Int =
      new GraftKvScan(path, m.schema, m.keys, m.schema, filters.toArray, -1)
        .planInputPartitions().length
    val pruned = planned(GreaterThanOrEqual("payload", 30000L), LessThan("payload", 33000L))
    assert(pruned < total / 2, s"zone maps should prune: $pruned of $total")
    // and the surviving scan returns exactly the right rows
    val got = KvCommands.table(spark, path)
      .filter(col("payload") >= 30000L && col("payload") < 33000L).count()
    assert(got == 1000)

    // a column with nulls publishes NO zone claim: IS NULL rows survive
    val nullPath = tmpTable()
    spark.range(0, 4000).select(col("id").as("k"),
        when(col("id") % 100 === 0, lit(null).cast("long"))
          .otherwise(col("id")).as("v"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", (8 * 1024).toString)
      .mode("overwrite").save(nullPath)
    val nm = GraftKvMeta.read(nullPath).get
    // IS NULL may soundly skip segments that provably hold no nulls
    // (null-free segments DO publish a total zone claim), but every
    // segment containing a null has no claim and must be planned —
    // the row count is the invariant
    val nullSegs = SegmentFile.listSegments(nullPath)
      .count(_.zoneStats.forall(_.name != "v"))
    val plannedNull = new GraftKvScan(nullPath, nm.schema, nm.keys, nm.schema,
      Array[org.apache.spark.sql.sources.Filter](IsNull("v")), -1)
      .planInputPartitions().length
    assert(plannedNull == nullSegs,
      s"IS NULL must plan exactly the $nullSegs claim-free segments, got $plannedNull")
    assert(KvCommands.table(spark, nullPath).filter(col("v").isNull).count() == 40)
  }

  test("partitioning report: honest only — pinned segments or padding off") {
    // ranged segments: KeyGroupedPartitioning only while padding is off
    val ranged = tmpTable()
    KvCommands.createTable(
      spark.range(0, 2000).select(col("id").as("k"), col("id").as("v")),
      ranged, Seq("k"))
    val rm = GraftKvMeta.read(ranged).get
    def partOf(path: String, m: KvTableMeta) =
      new GraftKvScan(path, m.schema, m.keys, m.schema, Array.empty, -1)
        .outputPartitioning()
    val prevPush = spark.conf.get("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      assert(partOf(ranged, rm).isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
      assert(partOf(ranged, rm).isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])

      // single-valued segments (tiny rotation threshold → one lead value
      // per segment): partition values are exact, so the report is
      // honest even with padding ON. v joins the key so the 10 rows per
      // lead value are distinct keys, not Put-upserts of one key.
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val pinned = tmpTable()
      spark.range(0, 30)
        .select((col("id") % 3).as("k"), col("id").as("v"))
        .write.format("graftkv")
        .option("key", "k,v").option("segment.maxBytes", "1")
        .mode("overwrite").save(pinned)
      val pm = GraftKvMeta.read(pinned).get
      val codec = graft.store.RowCodec(pm.schema, pm.keys, pm.encoding)
      assert(SegmentFile.listSegments(pinned).forall(m =>
        codec.leadingKeyValue(m.minKey) == codec.leadingKeyValue(m.maxKey)))
      assert(partOf(pinned, pm).isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
      // and the rows still read back completely
      assert(KvCommands.table(spark, pinned).count() == 30)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", prevPush)
    }
  }

  test("appends upsert by primary key: last write wins (Put semantics)") {
    val path = tmpTable()
    KvCommands.createTable(
      spark.range(1, 11).select(col("id").as("k"), lit("v0").as("v")),
      path, Seq("k"))
    KvCommands.append(
      spark.range(3, 6).select(col("id").as("k"), lit("v1").as("v")), path)
    KvCommands.append(
      Seq((4L, "v2")).toDF("k", "v"), path)
    val t = KvCommands.table(spark, path)
    // COUNT goes through the merge (agg pushdown refuses overlapping
    // segments — sidecar counts include superseded versions)
    assert(t.count() == 10)
    val vals = t.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vals(1L) == "v0" && vals(2L) == "v0")
    assert(vals(3L) == "v1" && vals(5L) == "v1")
    assert(vals(4L) == "v2", "the newest generation must win")
    // a range scan through the merged read keeps key order + filters
    assert(t.filter(col("k") >= 3 && col("k") <= 5).orderBy("k")
      .collect().map(_.getString(1)).toSeq == Seq("v1", "v2", "v1"))
    // overlapping generations force the row-based merging reader (Spark
    // forbids mixing columnar and row partitions in one scan)
    val mergedPlan = t.queryExecution.executedPlan.toString
    assert(!mergedPlan.contains("ColumnarToRow"), mergedPlan.take(1200))

    // compaction makes the upsert PHYSICAL: superseded versions are
    // dropped, the table is disjoint again (columnar + metadata-agg
    // paths restored), and results are unchanged
    assert(KvCommands.compactMinor(spark, path) > 0)
    assert(SegmentFile.listSegments(path).map(_.count).sum == 10,
      "compaction must discard superseded row versions")
    assert(KvCommands.overlapDepth(path) == 1)
    val after = KvCommands.table(spark, path)
    assert(after.count() == 10)
    assert(after.filter(col("k") === 4).head().getString(1) == "v2")
    after.collect()
    val compactedPlan = after.queryExecution.executedPlan.toString
    assert(compactedPlan.contains("ColumnarToRow"),
      "compaction must restore the columnar read path\n" + compactedPlan.take(1200))
  }

  test("heavy whole-range appends read as range-sharded parallel merges") {
    val path = tmpTable()
    // 5 staggered appends over [100g, 2000+100g) → one overlap
    // component of ≥5 segments with distinct min keys; the scan must
    // split it into shards, not collapse to a single merge task. Key
    // k's winner is the newest generation covering it: min(4, k/100).
    KvCommands.createTable(
      spark.range(0, 2000).select(col("id").as("k"), lit("g0").as("v")),
      path, Seq("k"))
    for (g <- 1 to 4)
      KvCommands.append(
        spark.range(100L * g, 2000L + 100L * g)
          .select(col("id").as("k"), lit(s"g$g").as("v")), path)
    val m = GraftKvMeta.read(path).get
    val parts = new GraftKvScan(path, m.schema, m.keys, m.schema, Array.empty, -1)
      .planInputPartitions()
    assert(parts.forall(_.isInstanceOf[GraftKvMergePartition]))
    assert(parts.length > 1,
      s"whole-range overlap must shard for parallelism, got ${parts.length} partition(s)")
    // every key resolves to its newest covering generation, exactly once
    val t = KvCommands.table(spark, path)
    assert(t.count() == 2400)
    def winner(k: Long): String = s"g${math.min(4, k / 100)}"
    assert(t.filter(col("k") === 50).head().getString(1) == "g0")
    assert(t.filter(col("k") === 150).head().getString(1) == "g1")
    assert(t.filter(col("k") === 1234).head().getString(1) == winner(1234))
    // shard windows compose with pushed filters and point lookups
    assert(t.filter(col("k").between(500, 509)).count() == 10)
    val all = t.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until 2400L).forall(k => all(k) == winner(k)))
  }

  test("duplicate keys within a single write collapse to one row") {
    val path = tmpTable()
    KvCommands.createTable(
      Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "v"),
      path, Seq("k"))
    val rows = KvCommands.table(spark, path).orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(SegmentFile.listSegments(path).map(_.count).sum == 2,
      "the duplicate must not even be written")
  }

  test("DELETE writes tombstones: rows vanish, re-insert resurrects, compaction erases") {
    val path = tmpTable()
    KvCommands.createTable(
      spark.range(1, 21).select(col("id").as("k"), lit("live").as("v")),
      path, Seq("k"))
    // residual (non-key) condition: delete is scan-based, not key-only
    KvCommands.delete(spark, path, col("k") % 2 === 0)
    val t = KvCommands.table(spark, path)
    assert(t.count() == 10)
    assert(t.collect().forall(_.getLong(0) % 2 == 1))
    // range scan + point lookup both suppress tombstoned keys
    assert(t.filter(col("k") === 4).count() == 0)
    assert(t.filter(col("k").between(1, 6)).count() == 3)
    // the sidecars record the tombstones (metadata-agg must refuse)
    assert(SegmentFile.listSegments(path).map(_.tombstones).sum == 10)

    // re-inserting a deleted key wins over the tombstone (newer gen)
    KvCommands.append(Seq((4L, "back")).toDF("k", "v"), path)
    assert(KvCommands.table(spark, path).filter(col("k") === 4)
      .head().getString(1) == "back")
    assert(KvCommands.table(spark, path).count() == 11)

    // compaction drops tombstones AND their victims physically
    assert(KvCommands.compactMinor(spark, path) > 0)
    assert(SegmentFile.listSegments(path).map(_.tombstones).sum == 0)
    assert(SegmentFile.listSegments(path).map(_.count).sum == 11)
    val after = KvCommands.table(spark, path)
    assert(after.count() == 11)
    assert(after.filter(col("k") === 4).head().getString(1) == "back")
    assert(after.filter(col("k") === 6).count() == 0)
  }

  test("compaction retains replaced segments for the grace window") {
    def files(path: String): Set[String] =
      Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".kv")).toSet
    // default window: replaced files stay on disk (in-flight scans
    // planned against the old manifest keep reading them) but are
    // invisible to readers planned after the swap
    val path = tmpTable()
    KvCommands.createTable(
      spark.range(0, 100).select(col("id").as("k"), lit("a").as("v")), path, Seq("k"))
    KvCommands.append(
      spark.range(0, 100).select(col("id").as("k"), lit("b").as("v")), path)
    val before = files(path)
    assert(KvCommands.compactMinor(spark, path) > 0)
    assert(before.subsetOf(files(path)), "replaced segments must be retained")
    assert(SegmentFile.listSegments(path).map(_.file).toSet.intersect(before).isEmpty,
      "retained files must not be visible to new readers")
    assert(KvCommands.table(spark, path).count() == 100)

    // zero window: the sweep reclaims them at the swap
    val path2 = tmpTable()
    KvCommands.createTable(
      spark.range(0, 100).select(col("id").as("k"), lit("a").as("v")), path2, Seq("k"))
    KvCommands.append(
      spark.range(0, 100).select(col("id").as("k"), lit("b").as("v")), path2)
    val before2 = files(path2)
    assert(KvCommands.compactMinor(spark, path2, retainReplacedMs = 0L) > 0)
    assert(files(path2).intersect(before2).isEmpty, "zero grace sweeps immediately")
    assert(KvCommands.table(spark, path2).count() == 100)
  }

  test("kv SUM of integral value columns is answered from segment metadata") {
    val path = tmpTable()
    val df = spark.range(5000).select(col("id").as("k"),
      (col("id") % 97).as("m"),
      (col("id") * 3).cast("int").as("v"))
    KvCommands.createTable(df, path, Seq("k"))
    val back = KvCommands.table(spark, path)

    // whole-table: long + int sums and count from pure metadata
    val agg = back.agg(sum(col("m")).as("sm"), sum(col("v")).as("sv"),
      count(lit(1)).as("c"))
    agg.collect()
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKvAggScan"),
      agg.queryExecution.executedPlan.toString.take(1500))
    val row = agg.head()
    assert(row.getLong(0) == (0L until 5000L).map(_ % 97).sum)
    assert(row.getLong(1) == (0L until 5000L).map(_ * 3).sum)
    assert(row.getLong(2) == 5000L)

    // lead-range filter: covered segments answer from metadata, the two
    // boundary segments scan and sum their matching records
    val f = back.filter(col("k").between(100, 4000))
      .agg(sum(col("m")).as("sm"), sum(col("v")).as("sv"))
    f.collect()
    assert(f.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    val fr = f.head()
    assert(fr.getLong(0) == (100L to 4000L).map(_ % 97).sum)
    assert(fr.getLong(1) == (100L to 4000L).map(_ * 3).sum)

    // a column with ANY null publishes no sum claim → full scan fallback
    val pathN = tmpTable()
    KvCommands.createTable(spark.range(100).select(col("id").as("k"),
      when(col("id") === 50, lit(null)).otherwise(col("id")).as("m")),
      pathN, Seq("k"))
    val aggN = KvCommands.table(spark, pathN).agg(sum(col("m")).as("sm"))
    assert(!aggN.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    assert(aggN.head().getLong(0) == (0L until 100L).sum - 50L)

    // a Put-upsert within one write sums the WINNING row only
    val pathU = tmpTable()
    KvCommands.createTable(
      spark.range(100).select((col("id") % 10).as("k"), lit(1L).as("m")),
      pathU, Seq("k"))
    val aggU = KvCommands.table(spark, pathU).agg(sum(col("m")).as("sm"),
      count(lit(1)).as("c"))
    aggU.collect()
    assert(aggU.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    assert(aggU.head().getLong(0) == 10L, "superseded duplicates must not be summed")
  }

  test("value-zone pruning never resurrects superseded generations") {
    val path = tmpTable()
    // several small segments so zone pruning has something to drop
    spark.range(1000).select(col("id").as("k"), col("id").as("v"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "4096").mode("overwrite").save(path)
    // upsert k=500: its value moves OUT of the queried range, into a
    // new overlapping segment whose zone map is [0,0]
    KvCommands.append(
      spark.range(1).select(lit(500L).as("k"), lit(0L).as("v")), path)
    val t = KvCommands.table(spark, path)
    // zone maps would prove the NEW segment false for v >= 400; pruning
    // it per-segment would resurrect the stale (500, 500) row from the
    // original segment — the component-level prune must keep both
    val hi = t.filter(col("v") >= 400).select("k", "v").collect()
    assert(!hi.exists(_.getLong(0) == 500L),
      "superseded generation resurrected by value-zone pruning")
    assert(hi.length == 599) // 400..999 minus the moved k=500
    val zero = t.filter(col("v") === 0).orderBy("k").collect()
    assert(zero.map(_.getLong(0)).toSeq == Seq(0L, 500L))
    // and zone pruning still fires where it is sound: after compaction
    // (disjoint singleton components) the same filter plans fewer
    // segments than the table holds
    KvCommands.compact(spark, path, maxSegBytes = Some(4096L))
    val meta = GraftKvMeta.read(path).get
    val scan = new GraftKvScan(path, meta.schema, meta.keys, meta.schema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("v", 900L)), -1,
      meta.encoding)
    val all = SegmentFile.listSegments(path).length
    assert(all > 3, s"expected several segments, got $all")
    assert(scan.planInputPartitions().length < all,
      "value-zone pruning stopped firing on a disjoint table")
  }

  test("kv MIN/MAX of value columns is answered from exact zone metadata") {
    val path = tmpTable()
    val df = spark.range(5000).select(col("id").as("k"),
      ((col("id") * 37) % 1009).as("m"),
      (col("id").cast("double") * 1.5 - 100.0).as("d"))
    KvCommands.createTable(df, path, Seq("k"))
    val back = KvCommands.table(spark, path)

    // whole-table min/max (long + double) from pure metadata
    val agg = back.agg(min(col("m")).as("mn"), max(col("m")).as("mx"),
      min(col("d")).as("dmn"), max(col("d")).as("dmx"))
    agg.collect()
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKvAggScan"),
      agg.queryExecution.executedPlan.toString.take(1500))
    val row = agg.head()
    val ms = (0L until 5000L).map(i => (i * 37) % 1009)
    assert(row.getLong(0) == ms.min && row.getLong(1) == ms.max)
    assert(row.getDouble(2) == -100.0 && row.getDouble(3) == 4999 * 1.5 - 100.0)

    // lead-range filter: covered segments answer from zone metadata,
    // boundary segments scan their own matching records
    val f = back.filter(col("k").between(100, 4000))
      .agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    f.collect()
    assert(f.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    val fms = (100L to 4000L).map(i => (i * 37) % 1009)
    assert(f.head().getLong(0) == fms.min && f.head().getLong(1) == fms.max)

    // Put-upsert then compaction: the superseded extreme (gen-1 value
    // 1000000) must NOT leak into the compacted table's answer — the
    // compactor rewrites winners-only segments whose zone maps are
    // exact, so MIN/MAX pushes again and reflects only live rows
    val pathU = tmpTable()
    KvCommands.createTable(
      spark.range(10).select(col("id").as("k"), lit(1000000L).as("m")),
      pathU, Seq("k"))
    KvCommands.append(
      spark.range(10).select(col("id").as("k"), (col("id") + 1).as("m")),
      pathU)
    KvCommands.compact(spark, pathU)
    val aggU = KvCommands.table(spark, pathU)
      .agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    aggU.collect()
    assert(aggU.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    assert(aggU.head().getLong(0) == 1L && aggU.head().getLong(1) == 10L,
      "superseded generation extremes must not answer MIN/MAX")

    // a column with ANY null publishes no zone entry → full scan fallback
    val pathN = tmpTable()
    KvCommands.createTable(spark.range(100).select(col("id").as("k"),
      when(col("id") === 50, lit(null)).otherwise(col("id")).as("m")),
      pathN, Seq("k"))
    val aggN = KvCommands.table(spark, pathN)
      .agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    assert(!aggN.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    assert(aggN.head().getLong(0) == 0L && aggN.head().getLong(1) == 99L)

    // tombstones refuse metadata aggregation outright (existing gate)
    val pathT = tmpTable()
    KvCommands.createTable(
      spark.range(100).select(col("id").as("k"), col("id").as("m")),
      pathT, Seq("k"))
    KvCommands.delete(spark, pathT, col("k") === 50)
    val aggT = KvCommands.table(spark, pathT)
      .agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    assert(!aggT.queryExecution.executedPlan.toString.contains("GraftKvAggScan"))
    assert(aggT.head().getLong(0) == 0L && aggT.head().getLong(1) == 99L)
  }
}
