package graft.store

import graft.codec.OrderedCodec
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class SegmentFileSpec extends AnyFunSuite {

  test("sparse index gives bounded seeks: a high lower bound skips most records") {
    val dir = Files.createTempDirectory("segidx").toString
    val w = new SegmentFile.Writer(dir, "s0", indexEvery = 100)
    (0 until 10000).foreach { i =>
      w.write(OrderedCodec.encodeLong(i.toLong), Array[Byte](1, 2, 3))
    }
    val meta = w.close()
    assert(meta.index.length == 99)

    val roundTrip = SegmentFile.readMeta(dir, "s0")
    assert(roundTrip.index.length == 99)
    assert(roundTrip.count == 10000)

    val off = SegmentFile.floorOffset(roundTrip, OrderedCodec.encodeLong(9000L))
    assert(off > 0)

    val r = new SegmentFile.Reader(dir, "s0.kv", off)
    val keys = r.map { case (k, _) => OrderedCodec.decodeLong(k) }.toVector
    // bounded: we land at most one index stride before the bound
    assert(keys.length <= 1100, s"read ${keys.length} records from offset")
    assert(keys.head <= 9000L && keys.contains(9000L) && keys.last == 9999L)
  }

  test("snapshot manifests: monotonic numbering, count cap, age prune") {
    val dir = Files.createTempDirectory("segmanifest").toString
    (1 to 70).foreach(i =>
      SegmentFile.commitManifest(dir)(m => Some(m.copy(files = Set(s"s$i.kv")))))
    val vs = SegmentFile.manifestVersions(dir)
    // numbering never restarts; only the newest MaxRetainedManifests stay
    assert(vs.last == 70L && vs.length == SegmentFile.MaxRetainedManifests)
    assert(vs == (vs.head to 70L))
    // each retained version reads its own committed set; the newest
    // mirrors the current manifest
    assert(SegmentFile.readManifestVersion(dir, vs.head).contains(Set(s"s${vs.head}.kv")))
    assert(SegmentFile.readManifest(dir).contains(Set("s70.kv")))
    // age prune keeps the newest regardless of cutoff
    SegmentFile.pruneManifestVersions(dir, System.currentTimeMillis() + 1000)
    assert(SegmentFile.manifestVersions(dir) == Seq(70L))
    assert(SegmentFile.readManifestVersion(dir, 70L).contains(Set("s70.kv")))
  }

  test("saturated blooms become explicit no-claims, small ones keep pruning") {
    // a small filter keeps its bits and discriminates
    val small = new SegmentFile.Bloom.Builder()
    (0 until 100).foreach(i => small.add(i * 2654435761L))
    val sb = small.result()
    assert(sb.words.nonEmpty)
    assert(sb.mightContain(50 * 2654435761L))
    assert((0 until 1000).count(i => sb.mightContain(-1L - i * 7919L)) < 100,
      "a 100-entry filter must reject most absent probes")
    // past nBits/4 adds the filter would be near-all-ones noise: emit
    // the no-claim marker instead — answers true for everything, costs
    // zero bytes in sidecars and packed stats
    val big = new SegmentFile.Bloom.Builder()
    (0 until 5000).foreach(i => big.add(i * 2654435761L))
    val bb = big.result()
    assert(bb.words.isEmpty)
    assert(bb.mightContain(123456789L))
  }

  test("a truncated data file fails loudly, never a silent row prefix") {
    val dir = Files.createTempDirectory("segtrunc").toString
    val w = new SegmentFile.Writer(dir, "s1")
    (0 until 500).foreach { i =>
      w.write(OrderedCodec.encodeLong(i.toLong), Array.fill[Byte](32)(7))
    }
    w.close()
    val seg = java.nio.file.Paths.get(dir, "s1.kv")
    // chop the tail MID-RECORD (a torn copy / partial restore)
    val full = Files.readAllBytes(seg)
    Files.write(seg, full.take(full.length - 17))
    val r = new SegmentFile.Reader(dir, "s1.kv", 0L)
    val e = intercept[java.io.IOException] {
      var n = 0
      while (r.hasNext) { r.next(); n += 1 }
    }
    assert(e.getMessage.contains("truncated"), e.getMessage)
    // a seek (sparse-index offset) past the cut fails too
    intercept[java.io.IOException] {
      val r1 = new SegmentFile.Reader(dir, "s1.kv", full.length - 8L)
      while (r1.hasNext) r1.next()
    }
    // a CLEAN boundary cut (exactly at a record edge) still ends quietly
    // — that is the legitimate end-of-stream shape
    Files.write(seg, full)
    val r2 = new SegmentFile.Reader(dir, "s1.kv", 0L)
    var n2 = 0
    while (r2.hasNext) { r2.next(); n2 += 1 }
    r2.close()
    assert(n2 == 500)
  }

  test("floor offset never lands past the bound (strictly-below semantics)") {
    val dir = Files.createTempDirectory("segidx2").toString
    val w = new SegmentFile.Writer(dir, "s1", indexEvery = 10)
    // duplicate keys around boundaries exercise the ≤/＜ edge
    (0 until 1000).foreach { i =>
      w.write(OrderedCodec.encodeLong((i / 3).toLong), Array[Byte](0))
    }
    val meta = w.close()
    for (bound <- Seq(0L, 1L, 50L, 333L)) {
      val off = SegmentFile.floorOffset(meta, OrderedCodec.encodeLong(bound))
      val r = new SegmentFile.Reader(dir, "s1.kv", off)
      val first = OrderedCodec.decodeLong(r.next()._1)
      r.close()
      assert(first <= bound, s"bound $bound: first visible key $first")
    }
  }
}
