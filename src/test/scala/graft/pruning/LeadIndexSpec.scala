package graft.pruning

import graft.codec.OrderedCodec
import graft.store.SegmentFile
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The lead-interval index must return a SUPERSET of the segments the
  * exact `MultiRange.intersects` pass keeps (the planner re-runs the
  * exact predicates on the candidates, so a superset is sound and a
  * subset would silently drop data). Fuzzed against the linear pass
  * over randomized overlapping segment layouts and range shapes,
  * including the open/closed bound edge cases the closed
  * over-approximation glosses over. */
class LeadIndexSpec extends AnyFunSuite {

  private def meta(i: Int, lo: Long, hi: Long): SegmentFile.Meta =
    SegmentFile.Meta(s"seg-$i.kv", OrderedCodec.encodeLong(lo),
      OrderedCodec.encodeLong(hi), 1L, 1L, 1L)

  private val cmp = TriEval.comparator(LongType)
  private def decode(k: Array[Byte]): Any = OrderedCodec.decodeLong(k, 0)

  private def exact(segs: Seq[SegmentFile.Meta],
      mr: CriticalPoints.MultiRange): Set[String] =
    segs.filter(m => mr.intersects(decode(m.minKey), decode(m.maxKey)))
      .map(_.file).toSet

  test("candidates cover the exact intersects set on randomized layouts") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 50).foreach { trial =>
      val n = 1 + rnd.nextInt(400)
      val segs = (0 until n).map { i =>
        val lo = rnd.nextLong(2000) - 1000
        meta(i, lo, lo + rnd.nextLong(200))
      }
      val ranges = (0 until 1 + rnd.nextInt(5)).map { _ =>
        val lo = rnd.nextLong(2400) - 1200
        val hi = lo + rnd.nextLong(300)
        TriEval.ValueRange(
          if (rnd.nextInt(8) == 0) None else Some(lo), rnd.nextBoolean(),
          if (rnd.nextInt(8) == 0) None else Some(hi), rnd.nextBoolean())
      }.sortBy(_.lo.map(_.asInstanceOf[Long]).getOrElse(Long.MinValue))
      val mr = CriticalPoints.MultiRange(ranges, LongType)
      val idx = LeadIndex.forSegments(segs, decode, cmp)
      val got = idx.candidates(ranges).map(_.file).toSet
      val want = exact(segs, mr)
      assert(want.subsetOf(got),
        s"trial $trial dropped ${want -- got} (n=$n ranges=$ranges)")
    }
  }

  test("point and boundary ranges: open bounds never drop a touching segment") {
    // segments [0,10] [10,20] [21,30]; range (10, 21) — open at a
    // boundary the closed approximation treats as touching
    val segs = Seq(meta(0, 0, 10), meta(1, 10, 20), meta(2, 21, 30))
    val r = TriEval.ValueRange(Some(10L), loInc = false, Some(21L),
      hiInc = false)
    val mr = CriticalPoints.MultiRange(Seq(r), LongType)
    val idx = LeadIndex.forSegments(segs, decode, cmp)
    val got = idx.candidates(Seq(r)).map(_.file).toSet
    assert(exact(segs, mr).subsetOf(got))
    // an exact point range selects only overlapping segments' superset
    val p = TriEval.ValueRange(Some(10L), loInc = true, Some(10L),
      hiInc = true)
    val gotP = idx.candidates(Seq(p)).map(_.file).toSet
    assert(exact(segs, CriticalPoints.MultiRange(Seq(p), LongType))
      .subsetOf(gotP))
    assert(!gotP.contains("seg-2.kv"), "point probe must not take all")
  }

  test("empty ranges select nothing; an unbounded range selects everything") {
    val segs = (0 until 8).map(i => meta(i, i * 10L, i * 10L + 5))
    val idx = LeadIndex.forSegments(segs, decode, cmp)
    assert(idx.candidates(Nil).isEmpty)
    val all = idx.candidates(Seq(
      TriEval.ValueRange(None, loInc = true, None, hiInc = true)))
    assert(all.map(_.file) == segs.map(_.file))
  }

  test("indexed planning matches the linear pass row-for-row through " +
      "real queries") {
    import org.apache.spark.sql.functions.col
    val spark = graft.TestSpark.spark
    val path = java.nio.file.Files
      .createTempDirectory("graft_leadidx").toString + "/t"
    // many small segments + an overlapping append generation, so the
    // index sees a layout with genuine lead-span overlap
    spark.range(0, 200000)
      .select(col("id").as("k"), (col("id") * 7).as("v"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "65536").mode("overwrite").save(path)
    spark.range(50000, 150000, 3)
      .select(col("id").as("k"), (col("id") * 11).as("v"))
      .write.format("graftkv").mode("append").save(path)
    val probes = Seq(
      col("k") === 123456L,
      col("k") >= 42000L && col("k") < 42100L,
      col("k").isin(5L, 49999L, 50001L, 199999L),
      (col("k") < 100L) || (col("k") >= 199900L),
      col("k") > 500000L) // nothing qualifies
    def run(): Seq[Seq[(Long, Long)]] = probes.map { p =>
      spark.read.format("graftkv").load(path).where(p)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
    }
    val saved = LeadIndex.MinSegments
    try {
      LeadIndex.MinSegments = Int.MaxValue // linear pass
      val linear = run()
      LeadIndex.MinSegments = 2 // force the index
      val indexed = run()
      assert(indexed == linear)
      assert(linear.head == Seq((123456L, 123456L * 7)),
        "merge-on-read point lookup")
      assert(linear(1).size == 100 && linear.last.isEmpty)
    } finally LeadIndex.MinSegments = saved
  }

  test("the index is built once per list instance (weak identity cache)") {
    val segs = (0 until 32).map(i => meta(i, i * 10L, i * 10L + 5))
    val a = LeadIndex.forSegments(segs, decode, cmp)
    val b = LeadIndex.forSegments(segs, decode, cmp)
    assert(a eq b)
    // identity keying: even a content-equal list is a different key —
    // an equality key's hash/equals walk would be O(segments) per
    // lookup, reinstating the linear cost the index removes
    val c = LeadIndex.forSegments(segs.map(m => m), decode, cmp)
    assert(!(a eq c))
  }
}
