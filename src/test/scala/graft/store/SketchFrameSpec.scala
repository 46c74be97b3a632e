package graft.store

import graft.TestSpark
import graft.codec.OrderedCodec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{HyperLogLogPlusPlusHelper, QuantileSummaries}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The sidecar's sketch tail (V14): NDV registers and quantile
  * summaries written as one length-prefixed zstd frame, and the
  * `_graft_ndv` / `_graft_qs` pack payloads framed the same way. The
  * frame is lossless, so every sketch must read back as the same arrays
  * through both the sidecar and the pack path; the index behind the
  * frame must load unchanged. */
class SketchFrameSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graftkv_frame_$tag").toString + "/t"

  private def sameQs(a: SegmentFile.QuantileSketch,
      b: SegmentFile.QuantileSketch): Boolean =
    a.name == b.name && a.count == b.count &&
      java.lang.Double.doubleToRawLongBits(a.relativeError) ==
        java.lang.Double.doubleToRawLongBits(b.relativeError) &&
      a.values.map(java.lang.Double.doubleToRawLongBits).sameElements(
        b.values.map(java.lang.Double.doubleToRawLongBits)) &&
      a.gs.sameElements(b.gs) && a.deltas.sameElements(b.deltas)

  private def sameNdv(a: SegmentFile.NdvSketch, b: SegmentFile.NdvSketch): Boolean =
    a.name == b.name && a.words.sameElements(b.words)

  private def assertSketches(dir: String, file: String,
      ndv: Seq[SegmentFile.NdvSketch], qs: Seq[SegmentFile.QuantileSketch]): Unit = {
    val gotNdv = SegmentFile.ndvSketches(dir)(file)
    val gotQs = SegmentFile.qsSketches(dir)(file)
    assert(gotNdv.length == ndv.length && gotNdv.zip(ndv).forall {
      case (a, b) => sameNdv(a, b) }, "NDV registers changed in the frame")
    assert(gotQs.length == qs.length && gotQs.zip(qs).forall {
      case (a, b) => sameQs(a, b) }, "quantile summaries changed in the frame")
  }

  test("every sketch column type round-trips exactly through sidecar and pack") {
    val dir = tmpDir("types")
    Files.createDirectories(Paths.get(dir))
    val w = new SegmentFile.Writer(dir, "s0", indexEvery = 64)
    (0 until 500).foreach(i =>
      w.write(OrderedCodec.encodeLong(i.toLong), Array[Byte](1, 2)))
    // each type's values in the double domain the writer ingests them
    // (long/int → toDouble, date → days, narrow decimal → unscaled
    // long), plus doubles with NaN and both zeros
    val rnd = new scala.util.Random(7)
    val domains: Seq[(String, DataType, Seq[Any], Seq[Double])] = {
      val longs = Seq.fill(400)(rnd.nextLong() >> 12)
      val ints = Seq.fill(400)(rnd.nextInt(100000))
      val days = Seq.fill(400)(rnd.nextInt(20000))
      val unscaled = Seq.fill(400)(rnd.nextInt(10000000).toLong)
      val doubles = Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity) ++
        Seq.fill(396)(rnd.nextGaussian() * 1e3)
      Seq(("l", LongType, longs, longs.map(_.toDouble)),
        ("i", IntegerType, ints, ints.map(_.toDouble)),
        ("dt", DateType, days, days.map(_.toDouble)),
        ("dec", DecimalType(12, 2),
          unscaled.map(u => Decimal(u, 12, 2)), unscaled.map(_.toDouble)),
        ("d", DoubleType, doubles, doubles))
    }
    val hll = new HyperLogLogPlusPlusHelper(SegmentFile.NdvRsd)
    val ndv = domains.map { case (name, dt, raw, _) =>
      val buf = new GenericInternalRow(Array.fill[Any](hll.numWords)(0L))
      raw.foreach(v => hll.update(buf, 0, v, dt))
      SegmentFile.NdvSketch(name, Array.tabulate(hll.numWords)(buf.getLong))
    }
    val qs = domains.map { case (name, _, _, ds) =>
      SegmentFile.QuantileSketch.fromSummaries(name,
        ds.foldLeft(new QuantileSummaries(
          QuantileSummaries.defaultCompressThreshold,
          SegmentFile.QsRelativeError))(_.insert(_)))
    } :+ SegmentFile.QuantileSketch("odd", 0.25, 9L,
      Array(Double.NaN, -0.0, 0.0, Double.MaxValue),
      Array(1L, 3L, Long.MaxValue, 0L), Array(0L, -1L, 7L, Long.MinValue))
    assert(qs.head.values.length > 100, "sketch too small to exercise the frame")
    w.close(ndvSketches = ndv, qsSketches = qs)
    SegmentFile.commitManifest(dir)(m => Some(m.copy(files = Set("s0.kv"))))
    SegmentFile.clearPlanningCache()
    val v = SegmentFile.currentVersion(dir).get
    assertSketches(dir, "s0.kv", ndv, qs) // from the sidecar's frame
    assert(Files.exists(Paths.get(dir, s"_graft_qs.v$v")) &&
      Files.exists(Paths.get(dir, s"_graft_ndv.v$v")), "packs not built")
    SegmentFile.clearPlanningCache()
    val before = (SegmentFile.qsSidecarOpens.get(), SegmentFile.ndvSidecarOpens.get())
    assertSketches(dir, "s0.kv", ndv, qs) // from the framed pack payloads
    assert((SegmentFile.qsSidecarOpens.get(), SegmentFile.ndvSidecarOpens.get())
      == before, "pack path fell back to sidecars")
  }

  test("a table written through Spark keeps every column's sketches across both paths") {
    val path = tmpDir("spark")
    spark.range(3000).select(col("id").as("k"),
      (col("id") * 7919 % 100003).as("l"),
      (col("id") % 977).cast("int").as("i"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 400).cast("int")).as("dt"),
      (col("id") % 5000 / 100).cast("decimal(10,2)").as("dec"),
      when(col("id") % 97 === 0, lit(Double.NaN))
        .when(col("id") % 89 === 0, lit(-0.0))
        .otherwise(col("id") / 7.0).as("d"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "32768").mode("overwrite").save(path)
    val segs = SegmentFile.listSegments(path)
    assert(segs.length >= 3)
    SegmentFile.clearPlanningCache()
    val viaSidecars = (SegmentFile.ndvSketches(path), SegmentFile.qsSketches(path))
    SegmentFile.clearPlanningCache()
    val viaPacks = (SegmentFile.ndvSketches(path), SegmentFile.qsSketches(path))
    val all = Set("k", "l", "i", "dt", "dec", "d")
    segs.foreach { m =>
      assert(viaSidecars._1(m.file).map(_.name).toSet == all)
      assert(viaSidecars._2(m.file).map(_.name).toSet == all)
      assert(viaPacks._1(m.file).corresponds(viaSidecars._1(m.file))(sameNdv))
      assert(viaPacks._2(m.file).corresponds(viaSidecars._2(m.file))(sameQs))
    }
  }

  test("a 1,000-row, 8-numeric-column segment's sidecar is smaller than its data") {
    val path = tmpDir("size")
    spark.range(1000).select(col("id").as("k") +:
      (1 to 8).map(c => (xxhash64(col("id"), lit(c)) % (1000L * c)).as(s"c$c")): _*)
      .write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    val segs = SegmentFile.listSegments(path)
    assert(segs.length == 1)
    val kvBytes = Files.size(Paths.get(path, segs.head.file))
    val metaBytes =
      Files.size(Paths.get(path, segs.head.file.stripSuffix(".kv") + ".kvmeta"))
    assert(SegmentFile.qsSketches(path)(segs.head.file).length == 9)
    assert(metaBytes < kvBytes, s".kvmeta $metaBytes B vs .kv $kvBytes B")
  }

  test("the sparse index behind the frame loads unchanged; seeks land the same") {
    val dir = tmpDir("index")
    Files.createDirectories(Paths.get(dir))
    val w = new SegmentFile.Writer(dir, "s0", indexEvery = 100)
    var qsAcc = new QuantileSummaries(QuantileSummaries.defaultCompressThreshold,
      SegmentFile.QsRelativeError)
    (0 until 10000).foreach { i =>
      w.write(OrderedCodec.encodeLong(i.toLong * 3), Array.fill[Byte](i % 5)(9))
      qsAcc = qsAcc.insert(i.toDouble)
    }
    val written = w.close(qsSketches =
      Seq(SegmentFile.QuantileSketch.fromSummaries("k", qsAcc)))
    val read = SegmentFile.readMeta(dir, "s0", withIndex = true)
    assert(read.index.length == 99 && read.index.length == written.index.length)
    assert(read.index.zip(written.index).forall { case ((k1, o1), (k2, o2)) =>
      k1.sameElements(k2) && o1 == o2 })
    for (bound <- Seq(0L, 299L, 15000L, 29997L)) {
      val key = OrderedCodec.encodeLong(bound)
      val off = SegmentFile.floorOffset(read, key)
      assert(off == SegmentFile.floorOffset(written, key))
      val r = new SegmentFile.Reader(dir, "s0.kv", off)
      val first = OrderedCodec.decodeLong(r.next()._1)
      r.close()
      val expect = read.index.find(_._2 == off)
        .map(e => OrderedCodec.decodeLong(e._1)).getOrElse(0L)
      assert(first == expect, s"bound $bound: seek to $off read key $first")
    }
  }

  test("a pack with the pre-frame marker is ignored and rebuilt from sidecars") {
    val path = tmpDir("oldpack")
    spark.range(4000).select(col("id").as("k"), (col("id") % 313).as("x"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "32768").mode("overwrite").save(path)
    val nSegs = SegmentFile.listSegments(path).length
    assert(nSegs >= 2)
    val qs = SegmentFile.qsSketches(path)
    val ndv = SegmentFile.ndvSketches(path)
    val v = SegmentFile.currentVersion(path).get
    // (pack prefix, marker of the unframed pack, marker of the framed one)
    for ((prefix, oldMarker, newMarker) <-
        Seq(("_graft_qs", -202, -204), ("_graft_ndv", -201, -203))) {
      val pack = Paths.get(path, s"$prefix.v$v")
      val bytes = Files.readAllBytes(pack)
      assert(java.nio.ByteBuffer.wrap(bytes).getInt == newMarker)
      java.nio.ByteBuffer.wrap(bytes).putInt(oldMarker)
      Files.write(pack, bytes)
    }
    SegmentFile.clearPlanningCache()
    val before = (SegmentFile.qsSidecarOpens.get(), SegmentFile.ndvSidecarOpens.get())
    val qs2 = SegmentFile.qsSketches(path)
    val ndv2 = SegmentFile.ndvSketches(path)
    assert(SegmentFile.qsSidecarOpens.get() - before._1 == nSegs,
      "an old-marker quantile pack must miss")
    assert(SegmentFile.ndvSidecarOpens.get() - before._2 == nSegs,
      "an old-marker NDV pack must miss")
    assert(qs2.keySet == qs.keySet && qs2.forall { case (f, ss) =>
      ss.zip(qs(f)).forall { case (a, b) => sameQs(a, b) } })
    assert(ndv2.keySet == ndv.keySet && ndv2.forall { case (f, ss) =>
      ss.zip(ndv(f)).forall { case (a, b) => sameNdv(a, b) } })
    for ((prefix, newMarker) <- Seq(("_graft_qs", -204), ("_graft_ndv", -203)))
      assert(java.nio.ByteBuffer.wrap(Files.readAllBytes(
        Paths.get(path, s"$prefix.v$v"))).getInt == newMarker, s"$prefix not rebuilt")
  }

  test("a non-V14 sidecar fails to open with a clear error") {
    val dir = tmpDir("prev14")
    Files.createDirectories(Paths.get(dir))
    val w = new SegmentFile.Writer(dir, "s0", indexEvery = 10)
    (0 until 100).foreach(i =>
      w.write(OrderedCodec.encodeLong(i.toLong), Array[Byte](1)))
    w.close()
    SegmentFile.commitManifest(dir)(m => Some(m.copy(files = Set("s0.kv"))))
    val meta = Paths.get(dir, "s0.kvmeta")
    val bytes = Files.readAllBytes(meta)
    java.nio.ByteBuffer.wrap(bytes).putInt(-13) // an older header
    Files.write(meta, bytes)
    SegmentFile.clearPlanningCache()
    def fails(read: => Any): Unit = {
      val e = intercept[java.io.IOException](read)
      assert(e.getMessage.contains("s0.kvmeta") && e.getMessage.contains("-13"),
        e.getMessage)
    }
    fails(SegmentFile.readMeta(dir, "s0", withIndex = true))
    fails(SegmentFile.readMeta(dir, "s0", withIndex = false))
    fails(SegmentFile.qsSketches(dir))
    fails(SegmentFile.ndvSketches(dir))
  }
}
