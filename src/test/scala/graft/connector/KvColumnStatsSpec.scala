package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 COLUMN statistics for the cost-based optimizer: under
  * spark.sql.cbo.enabled the kv scan reports per-column distinct
  * counts (merged V9 NDV sketches) and min/max (zone-map fold), which
  * Spark's transformV2Stats turns into attributeStats — real numbers
  * for join reordering/selectivity instead of heuristics. Off by
  * default: the stock planning path must not pay for stats it never
  * reads. */
class KvColumnStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graftkv_cstats_$tag").toString + "/t"

  private def scanStats(df: DataFrame): Statistics = {
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r
    }.getOrElse(fail("no v2 scan relation in plan"))
    rel.stats
  }

  private def withCbo[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("CBO on: distinct counts and bounds flow into attributeStats") {
    val path = tmpDir("basic")
    spark.range(10000).select(col("id").as("k"),
      (col("id") % 321 + 7).as("x"),
      (col("id") % 13).cast("double").as("d"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "65536").mode("overwrite").save(path)
    withCbo(on = true) {
      val st = scanStats(KvCommands.table(spark, path)
        .select("k", "x", "d").filter(col("x") > 0))
      val byName = st.attributeStats.map { case (a, cs) => a.name -> cs }
      assert(byName.contains("x"), s"no column stats for x: $byName")
      val xs = byName("x")
      // HLL at rsd 0.05 on 321 distinct: well within 15%
      assert(xs.distinctCount.exists(dc =>
        math.abs(dc.toLong - 321L) <= 321 * 0.15), s"ndv off: $xs")
      assert(xs.min.contains(7L) && xs.max.contains(327L), s"bounds: $xs")
      assert(xs.nullCount.exists(_.toLong == 0L), s"nulls: $xs")
      val ds = byName("d")
      assert(ds.distinctCount.exists(dc => math.abs(dc.toLong - 13L) <= 2))
      assert(ds.min.contains(0.0) && ds.max.contains(12.0))
      // the key column gets a distinct count too (no zone map, no bounds)
      assert(byName.get("k").exists(_.distinctCount.exists(dc =>
        math.abs(dc.toLong - 10000L) <= 10000 * 0.15)))
    }
  }

  test("CBO off: no column stats, no sketch-pack work on the plan path") {
    val path = tmpDir("off")
    spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("x"))
      .write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    withCbo(on = false) {
      val st = scanStats(KvCommands.table(spark, path).select("k", "x"))
      assert(st.attributeStats.isEmpty)
    }
  }

  test("stats are POST-prune: a pushed lead filter shrinks the claim") {
    val path = tmpDir("pruned")
    spark.range(10000).select(col("id").as("k"), (col("id") % 500).as("x"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "16384").mode("overwrite").save(path)
    withCbo(on = true) {
      val whole = scanStats(KvCommands.table(spark, path).select("k", "x"))
      val pruned = scanStats(KvCommands.table(spark, path)
        .filter(col("k") < 100).select("k", "x"))
      assert(pruned.rowCount.get < whole.rowCount.get,
        "pushed lead filter must shrink the row estimate")
      // distinct count re-merges only the surviving segments' sketches
      val dcW = whole.attributeStats.find(_._1.name == "k").get._2.distinctCount.get
      val dcP = pruned.attributeStats.find(_._1.name == "k").get._2.distinctCount.get
      assert(dcP < dcW, s"post-prune ndv $dcP must shrink vs $dcW")
    }
  }

  test("a pushed sample suppresses distinct/null claims; bounds and scaled rows stay consistent") {
    val path = tmpDir("sampled")
    spark.range(10000).select(col("id").as("k"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 100).as("x"))
      .write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    withCbo(on = true) {
      val st = scanStats(KvCommands.table(spark, path).sample(0.01, 1L)
        .select("k", "x"))
      // rows scale by the fraction; full-table nullCount/distinctCount
      // would exceed them and drive IsNotNull selectivity negative —
      // both must be absent. Zone bounds stay (a sampled subset's
      // values still lie within them).
      assert(st.rowCount.exists(_.toLong <= 200),
        s"rows not scaled: ${st.rowCount}")
      val xs = st.attributeStats.find(_._1.name == "x").map(_._2)
      assert(xs.forall(s => s.distinctCount.isEmpty && s.nullCount.isEmpty),
        s"claims must be suppressed under a sample: $xs")
    }
  }

  test("a selective lead range inside ONE segment shrinks distinct/null claims") {
    val path = tmpDir("leadfrac")
    spark.range(10000).select(col("id").as("k"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 100).as("x"))
      .write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    withCbo(on = true) {
      val whole = scanStats(KvCommands.table(spark, path).select("k", "x"))
      val narrow = scanStats(KvCommands.table(spark, path)
        .filter(col("k") < 100).select("k", "x"))
      // the single segment survives pruning either way — the shrink is
      // the INTERPOLATED lead-range coverage of the boundary segment,
      // not segment pruning (which the post-prune test above pins)
      val dcW = whole.attributeStats.find(_._1.name == "k").get._2
        .distinctCount.get.toLong
      val dcN = narrow.attributeStats.find(_._1.name == "k").get._2
        .distinctCount.get.toLong
      assert(dcN <= 150 && dcN * 10 < dcW,
        s"distinct claim not capped by the lead coverage: $dcN vs $dcW")
      val nW = whole.attributeStats.find(_._1.name == "x").get._2
        .nullCount.get.toLong
      val nN = narrow.attributeStats.find(_._1.name == "x").get._2
        .nullCount.get.toLong
      assert(nW == 2500L, s"whole-table null claim: $nW")
      assert(nN >= 1 && nN <= 100, s"null claim not scaled: $nN")
      // (no bounds assertion: x holds NULLs, and a zone-map entry's
      // ABSENCE is the null signal — x legitimately has no claimed
      // bounds whole-table either; the basic test pins bounds survival)
    }
  }

  test("equi-height histograms from V11 summaries flow into attributeStats") {
    val path = tmpDir("hist")
    // heavily SKEWED distribution: 90% of rows in [0,10), tail to 10000 —
    // exactly where a uniform [min,max] assumption misestimates ranges
    spark.range(10000).select(col("id").as("k"),
      when(col("id") % 10 < 9, col("id") % 10)
        .otherwise(col("id")).as("x"))
      .write.format("graftkv").option("key", "k")
      .option("segment.maxBytes", "65536").mode("overwrite").save(path)
    val prevH = spark.conf.get("spark.sql.statistics.histogram.enabled", "false")
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try withCbo(on = true) {
      val st = scanStats(KvCommands.table(spark, path).select("k", "x")
        .filter(col("x") >= 0))
      val xs = st.attributeStats.find(_._1.name == "x").map(_._2)
        .getOrElse(fail("no column stats for x"))
      val h = xs.histogram.getOrElse(fail(s"no histogram: $xs"))
      val nb = spark.sessionState.conf.histogramNumBins
      assert(h.bins.length == nb)
      // boundaries are monotone and span the data
      h.bins.sliding(2).foreach { case Array(a, b) =>
        assert(a.hi >= a.lo && b.lo >= a.lo)
        case _ => ()
      }
      assert(h.bins.head.lo <= 1.0 && h.bins.last.hi >= 9000.0,
        s"histogram span: ${h.bins.head.lo}..${h.bins.last.hi}")
      // equi-height: the skewed mass shows — at least 80% of bin
      // boundaries sit inside [0,10)
      val inHead = h.bins.count(_.hi < 10.0)
      assert(inHead >= (nb * 0.8).toInt,
        s"only $inHead of $nb bins in the 90% mass region")
      assert(h.height > 0)
    } finally
      spark.conf.set("spark.sql.statistics.histogram.enabled", prevH)
    // off by default: no summary-pack work, no histogram claim
    withCbo(on = true) {
      val st = scanStats(KvCommands.table(spark, path).select("x"))
      assert(st.attributeStats.find(_._1.name == "x")
        .forall(_._2.histogram.isEmpty))
    }
  }

  test("a pre-sketch segment suppresses the distinct claim, bounds survive") {
    val path = tmpDir("legacy")
    spark.range(2000).select(col("id").as("k"), (col("id") % 50 + 1).as("x"))
      .write.format("graftkv").option("key", "k").mode("overwrite").save(path)
    // strip the NDV section by rewriting one sidecar as a pre-V9 writer
    // would have: simplest faithful simulation — truncate the sketch
    // list via a direct meta rewrite is internal; instead append via a
    // raw segment writer with no sketches
    val m = GraftKvMeta.read(path).get
    val codec = graft.store.RowCodec(m.schema, m.keys, m.encoding)
    val w = new graft.store.SegmentFile.Writer(path, "segment-99999-000000-nosketch",
      cmp = codec.compareKeys, schemaJson = m.schema.json, gen = 2L)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](100000L, 25L))
    w.write(codec.encodeKey(row), codec.encodeValue(row))
    w.close() // no sketches, but zone stats absent too — bounds also gone
    graft.store.SegmentFile.commitManifest(path)(s =>
      Some(s.copy(files = s.files + "segment-99999-000000-nosketch.kv")))
    withCbo(on = true) {
      val st = scanStats(KvCommands.table(spark, path).select("x"))
      val xs = st.attributeStats.find(_._1.name == "x").map(_._2)
      // the sketchless segment blocks both claims for x — and that must
      // degrade to "no stats", never to a wrong number
      assert(xs.forall(s => s.distinctCount.isEmpty && s.min.isEmpty))
    }
  }
}
