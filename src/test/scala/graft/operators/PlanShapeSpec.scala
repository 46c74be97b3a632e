package graft.operators

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (the reference pins these too —
  * HBaseAdditionalQuerySuite checkResult asserts Exchange
  * presence/absence): pushdown reached the scan, broadcast joins were
  * chosen for dims, aggregation is partial (map-side combine), top-k
  * avoids a global sort, and KV point lookups scan exactly one
  * partition. These are the properties that decide 100 TB behavior. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("kv scan reports custom metrics: segments pruned, records decoded") {
    // multi-segment table (tiny rotation threshold), selective lead-key
    // filter: most segments prune, and the readers report decode work
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("kv_metrics")
      .toString + "/t"
    spark.range(50000).coalesce(1)
      .select((col("id") / 100).cast("long").as("k"), col("id").as("v"))
      .write.format("graftkv").option("key", "k,v")
      .option("segment.maxBytes", "65536").mode("overwrite").save(path)
    val df = spark.read.format("graftkv").load(path)
      .filter(col("k") === 250L)
    df.collect()
    // AQE wraps executed stages in QueryStageExec nodes whose inner plan
    // is a field, not a child — recurse through all the wrappers
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def findScan(p: SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case q: QueryStageExec => findScan(q.plan)
      case other => other.children.iterator.flatMap(findScan).nextOption()
    }
    val scan = findScan(df.queryExecution.executedPlan).get
    val m = scan.metrics
    assert(m.contains("segmentsTotal") && m.contains("segmentsPruned") &&
      m.contains("recordsDecoded") && m.contains("gapSeeks"), m.keySet)
    assert(m("recordsDecoded").value > 0, "readers must report decode work")
    assert(m("segmentsTotal").value > 0)
    assert(m("segmentsPruned").value > 0,
      s"a point lookup must prune segments (total ${m("segmentsTotal").value})")
  }

  test("parquet filter is pushed to the scan (p1)") {
    val plan = planOf("p1_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThan(o_totalprice"), plan.take(2000))
  }

  test("fact×dim join broadcasts the dim side (j9)") {
    assert(planOf("j9_fact_dim_broadcast").contains("BroadcastHashJoin"))
  }

  test("aggregation has a partial (map-side) phase before the shuffle (a8)") {
    val plan = planOf("a8_tpch_q1")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("TPC-H join shapes broadcast their dims and never plan cartesian (a16-a19)") {
    // one representative filter per query that MUST appear in the
    // parquet scan's pushed list — `PushedFilters: [` alone also
    // matches an empty list
    val pushed = Map(
      "a16_tpch_q3" -> "EqualTo(c_mktsegment,BUILDING)",
      "a17_tpch_q5" -> "EqualTo(r_name,ASIA)",
      "a18_tpch_q10" -> "EqualTo(l_returnflag,R)",
      "a19_tpch_q18" -> "IsNotNull(l_orderkey)")
    for ((q, f) <- pushed) {
      val plan = planOf(q)
      // every equi-join must stay hash-based: a nested-loop or cartesian
      // product here would be quadratic at scale
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ")
      // at least one dimension side should broadcast (nation/region/
      // customer at this SF are far under the broadcast threshold)
      assert(plan.contains("BroadcastHashJoin"), s"$q broadcasts no dim side")
      // the representative filter reaches the parquet scan
      assert(plan.contains(f), s"$q does not push $f")
    }
  }

  // untruncated pushed-filter inventory across every parquet scan in the
  // plan (the rendered plan string truncates PushedFilters at ~100 chars)
  private def pushedFiltersOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the executed tree in
    // AdaptiveSparkPlanExec whose inner plan is a field, not a child,
    // so collect() would see no scans at all
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
  }

  test("extended TPC-H suite broadcasts dims, pushes filters, no cartesian (h-suite)") {
    // representative pushed filter per query (must reach a parquet scan)
    val pushed = Map(
      "h04_tpch_q4" -> "GreaterThanOrEqual(o_orderdate",
      "h07_tpch_q7" -> "GreaterThanOrEqual(l_shipdate",
      "h08_tpch_q8" -> "EqualTo(p_type,PROMO)",
      "h09_tpch_q9" -> "StringContains(p_name,red)",
      "h12_tpch_q12" -> "GreaterThanOrEqual(l_shipdate",
      "h13_tpch_q13" -> "Not(EqualTo(o_orderpriority,1-URGENT))",
      "h14_tpch_q14" -> "GreaterThanOrEqual(l_shipdate",
      "h15_tpch_q15" -> "GreaterThanOrEqual(l_shipdate",
      "h17_tpch_q17" -> "EqualTo(p_brand,Brand#23)",
      // the property Q19 tests: the per-side OR disjunction is DERIVED
      // from the cross-side predicate and pushed to the lineitem scan
      "h19_tpch_q19" -> "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)",
      "h21_tpch_q21" -> "EqualTo(o_orderstatus,F)")
    for ((q, f) <- pushed) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      // every join in these queries is equi — a nested-loop would be
      // quadratic at scale (h22, excluded, broadcasts a 1-row scalar
      // gate through a BNLJ by design)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ")
      assert(plan.contains("BroadcastHashJoin"), s"$q broadcasts no dim side")
      val pf = pushedFiltersOf(q)
      assert(pf.contains(f), s"$q does not push $f (pushed: $pf)")
    }
    // h06 is the pure scan query: all three predicates reach the scan
    val h06 = pushedFiltersOf("h06_tpch_q6")
    assert(h06.contains("GreaterThanOrEqual(l_shipdate"), h06)
    assert(h06.contains("LessThan(l_quantity,24.0)"), h06)
    // h22's only joins are the broadcast scalar gate and the anti-join —
    // never a cartesian
    val h22 = planOf("h22_tpch_q22")
    assert(!h22.contains("CartesianProduct"), h22.take(2000))
  }

  test("h04 semi-join builds from the PRE-AGGREGATED per-order relation") {
    // EXISTS(l_shipdate > o_orderdate) is answered against
    // max(l_shipdate) per l_orderkey: the broadcast build side must be
    // one row per ORDER (bounded by the order count), never the raw
    // lineitem projection (which grows with the fact and stops being
    // broadcastable at scale). Pin: the LeftSemi join's build subtree
    // contains a HashAggregate over l_orderkey.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("h04_tpch_q4")(spark, sf)
    val semi = df.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j.right
      case j: ShuffledHashJoinExec if j.joinType == LeftSemi => j.right
      case j: SortMergeJoinExec if j.joinType == LeftSemi => j.right
    }
    assert(semi.nonEmpty, "h04 plans no LeftSemi join:\n" +
      df.queryExecution.sparkPlan.toString.take(3000))
    def hasAgg(p: SparkPlan): Boolean = p.isInstanceOf[BaseAggregateExec] ||
      p.children.exists(hasAgg)
    assert(semi.forall(hasAgg),
      "h04's semi-join build side is the raw fact, not the aggregate:\n" +
        semi.head.toString.take(3000))
  }

  test("kv48 decimal aggregate answers from metadata (GraftKvAggScan)") {
    // the null-free DECIMAL money column's SUM/MIN/MAX/COUNT push to
    // the V13 zone claims: no data file opens at any table size
    assert(planOf("kv48_decimal_metadata_agg").contains("GraftKvAggScan"))
  }

  test("h21 runs on ONE fact shuffle (prefix-partitioned agg + windows)") {
    // the joined fact repartitions by l_orderkey once; the
    // (l_orderkey, l_suppkey) aggregation and both per-order windows
    // ride that partitioning, and dims broadcast — so the only hash
    // exchanges are the fact repartition and the final tiny
    // GROUP BY s_name. A third exchange means the shared shuffle
    // regressed into separate ones.
    val plan = planOf("h21_tpch_q21")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"h21 plans $shuffles hash exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("TPC-H Q3 on kv storage broadcasts dims and stays hash-joined (kv32)") {
    val plan = planOf("kv32_tpch_q3_on_kv")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the final ordering is a bounded top-k, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("Q18 on kv needs fewer shuffles than on parquet (key-grouped HAVING agg)") {
    def shuffles(name: String): Int =
      "Exchange hashpartitioning".r.findAllIn(planOf(name)).size
    val kv = shuffles("kv34_tpch_q18_on_kv")
    val pq = shuffles("a19_tpch_q18")
    // the HAVING subquery's GROUP BY l_orderkey rides the kv scan's
    // KeyGroupedPartitioning instead of shuffling the fact table
    assert(kv < pq, s"kv34 shuffles=$kv, a19 shuffles=$pq")
  }

  test("Q18's heavy-hitter broadcast is size-conditional (scale-safe)") {
    // r15 verdict item 2: the explicit broadcast() hint bypasses every
    // AQE size check, and the HAVING survivor set grows linearly with
    // the fact — the hint must degrade to a shuffle join above the
    // fact-size gate. Auto-broadcast is disabled for BOTH sides of the
    // A/B so only the hint itself decides: a hint that were still
    // unconditional would broadcast in the "forced large" leg too.
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeAutoKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAqeAuto = spark.conf.getOption(aqeAutoKey)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(aqeAutoKey, "-1")
      def semiPlan(): String = {
        val df = SparkEntry.queries("a19_tpch_q18")(spark, sf)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
      spark.conf.set(TpcH.Q18MaxBroadcastFactBytesKey, "0")
      val forced = semiPlan() // fact "too large": hint withheld
      assert(!forced.contains("BroadcastHashJoin"), forced.take(3000))
      assert(forced.contains("LeftSemi") &&
        (forced.contains("SortMergeJoin") ||
          forced.contains("ShuffledHashJoin")), forced.take(3000))
      spark.conf.unset(TpcH.Q18MaxBroadcastFactBytesKey)
      val hinted = semiPlan() // default gate: hint fires despite -1
      assert(hinted.contains("BroadcastHashJoin") &&
        hinted.contains("LeftSemi"), hinted.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      prevAqeAuto match {
        case Some(v) => spark.conf.set(aqeAutoKey, v)
        case None => spark.conf.unset(aqeAutoKey)
      }
      spark.conf.unset(TpcH.Q18MaxBroadcastFactBytesKey)
    }
  }

  test("dd9 tokenizes through the native kernel, not regex split") {
    // r15 shipped an after-plan contradicting the doc's claim — pin it:
    // every tokenize site in dd9's plan is the whitespace_tokens kernel
    val plan = planOf("dd9_substring_dedup")
    assert(plan.contains("whitespace_tokens"), plan.take(3000))
    assert(!plan.contains("split(text"), plan.take(3000))
  }

  test("ORDER BY + LIMIT plans as top-k, not global sort (t2)") {
    assert(planOf("t2_sort_multi_dir").contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline (p4)") {
    // AQE finalizes codegen stages at runtime — execute, then inspect;
    // codegen'd operators render with the "*(stageId)" prefix
    val df = SparkEntry.queries("p4_range_conjunction")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && plan.contains("*("), plan.take(1500))
  }

  test("kv COUNT/MIN/MAX is answered from segment metadata (agg pushdown)") {
    val df = SparkEntry.queries("kv9_metadata_agg")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("GraftKvAggScan"),
      df.queryExecution.executedPlan.toString.take(1500))
    val row = df.head()
    assert(row.getLong(0) == 6000L && row.getLong(1) == 0L)
  }

  test("kv scan reports key ordering so partition-local sorts are elided") {
    // ensure fixture exists
    SparkEntry.queries("kv1_scan_count")(spark, sf).collect()
    val kvPath = KvOps.fixturePath(sf, "lineitem")
    val df = graft.connector.KvCommands.table(spark, kvPath)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .sortWithinPartitions("l_orderkey", "l_linenumber")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("Sort "),
      df.queryExecution.executedPlan.toString.take(1200))
  }

  test("kv COUNT/MIN/MAX under a lead-key range still pushes to metadata") {
    val df = SparkEntry.queries("kv13_metadata_agg_filtered")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftKvAggScan"), plan.take(1500))
    // values must match the plain parquet computation
    val exp = graft.Tables.table(spark, sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey").between(100, 4000))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("l_orderkey"),
        org.apache.spark.sql.functions.max("l_orderkey")).head()
    val got = df.head()
    assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1) &&
      got.getLong(2) == exp.getLong(2), s"got $got expected $exp")
  }

  test("kv GROUP BY on the key prefix needs no shuffle (KeyGroupedPartitioning)") {
    // the reference's own plan-shape pattern (HBaseAdditionalQuerySuite:
    // 288-297, no Exchange for GROUP BY on the row-key prefix); here the
    // scan reports KeyGroupedPartitioning over the disjoint lead dim
    SparkEntry.queries("kv1_scan_count")(spark, sf).collect() // fixture
    val kvPath = KvOps.fixturePath(sf, "lineitem")
    val df = graft.connector.KvCommands.table(spark, kvPath)
      .groupBy("l_orderkey")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    // grouping on a superset of the disjoint prefix is also shuffle-free
    val df2 = graft.connector.KvCommands.table(spark, kvPath)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("c"))
    df2.collect()
    val plan2 = df2.queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), plan2.take(2000))
    // results must equal the shuffled plan's (correctness of the elision)
    val expected = graft.connector.KvCommands.table(spark, kvPath)
      .repartition(4)
      .groupBy("l_orderkey")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected)
  }

  test("window on the kv key order needs no Exchange and no Sort") {
    // the window analog of the shuffle-free GROUP BY (reference R8/R9
    // sort elision, HBaseStrategies.scala:42-60): PARTITION BY the
    // disjoint lead key rides KeyGroupedPartitioning, ORDER BY the next
    // key column rides the scan's reported ordering — WindowExec runs
    // directly on the scan output
    SparkEntry.queries("kv1_scan_count")(spark, sf).collect() // fixture
    val kvPath = KvOps.fixturePath(sf, "lineitem")
    import org.apache.spark.sql.functions.{col, sum}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber")
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val df = graft.connector.KvCommands.table(spark, kvPath)
      .select(col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(w).as("run_qty"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2500))
    assert(!"(?m)^[\\s:+|-]*Sort ".r.findFirstIn(plan).isDefined,
      plan.take(2500))
    // the elided plan's values must equal the shuffled+sorted plan's
    val expected = graft.connector.KvCommands.table(spark, kvPath)
      .repartition(4)
      .select(col("l_orderkey"), col("l_linenumber"),
        sum("l_quantity").over(w).as("run_qty"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sorted.toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sorted.toSeq
    assert(got == expected)
  }

  test("window on the kv key order stays Exchange-free and parallel at 10x segments") {
    // the sf1-shaped fixture (round 13): same shuffle-free window, an
    // order of magnitude more segments. Round 12 suspected the
    // KeyGroupedPartitioning path "degrades in partition granularity or
    // sort behavior at 10x segment count" — measurement showed flat
    // scaling (kv36 sf1 0.36 s vs sf0.1 0.24 s steady-state; the 31x
    // bench row was end-of-run machine contention, now attributable via
    // the bench's per-section calibration stamps). This pins the plan:
    // no Exchange, no Sort, and scan parallelism that TRACKS the
    // segment count instead of collapsing.
    import org.apache.spark.sql.functions.{col, expr, sum}
    val dir = java.nio.file.Files.createTempDirectory("kv_win10x").toString + "/t"
    spark.range(40000)
      .select(expr("id div 4").as("k"), (col("id") % 4).cast("int").as("s"),
        (col("id") % 100).cast("double").as("v"))
      .write.format("graftkv").option("key", "k,s")
      .option("segment.maxBytes", "32768")
      .mode("overwrite").save(dir)
    val segs = graft.store.SegmentFile.listSegments(dir).length
    assert(segs >= 15, s"fixture built only $segs segments")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("s")
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val df = graft.connector.KvCommands.table(spark, dir)
      .select(col("k"), col("s"), sum("v").over(w).as("run_v"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2500))
    assert(!"(?m)^[\\s:+|-]*Sort ".r.findFirstIn(plan).isDefined, plan.take(2500))
    // parallelism ~ segments (disjoint bulk-loaded table: one partition
    // per segment), never a handful of merged mega-partitions
    val parts = df.rdd.getNumPartitions
    assert(parts >= segs / 2,
      s"window plan collapsed to $parts partitions over $segs segments")
  }

  test("kv self-join on the lead key is storage-partitioned (no shuffle)") {
    // the reference's co-located HBase-HBase join (two region scans with
    // matching boundaries zip partition-wise); here two scans of the
    // same kv table share partition values, so Spark plans the join with
    // no Exchange on either side
    SparkEntry.queries("kv1_scan_count")(spark, sf).collect() // fixture
    val kvPath = KvOps.fixturePath(sf, "lineitem")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = graft.connector.KvCommands.table(spark, kvPath)
      val l = t.groupBy("l_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
      val r = t.groupBy("l_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_extendedprice").as("p"))
      val j = l.join(r, Seq("l_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2500))
      assert(j.count() == t.select("l_orderkey").distinct().count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("join of two kv tables with pinned segments is storage-partitioned") {
    // cross-TABLE co-located join (reference HBase-HBase join): both
    // sides report exact per-segment partition values (single-valued
    // segments), so Spark's storage-partitioned join aligns them —
    // including the non-matching keys, via partition-value pushdown —
    // with no Exchange on either side
    import org.apache.spark.sql.functions.col
    def pinnedTable(lo: Int, hi: Int, valName: String): String = {
      val p = java.nio.file.Files.createTempDirectory("graftkv_spj").toString + "/t"
      spark.range(lo, hi)
        .select((col("id") % 32).as("k"), (col("id") + 100).as(valName))
        .write.format("graftkv")
        // the value column joins the key: 20 rows per lead value are
        // distinct composite keys, not Put-upserts of one key
        .option("key", s"k,$valName").option("segment.maxBytes", "1")
        .mode("overwrite").save(p)
      p
    }
    val pa = pinnedTable(0, 640, "va")   // leads 0..31
    val pb = pinnedTable(0, 320, "vb")   // leads 0..31, fewer rows
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = graft.connector.KvCommands.table(spark, pa)
        .groupBy("k").agg(org.apache.spark.sql.functions.count("va").as("na"))
      val b = graft.connector.KvCommands.table(spark, pb)
        .groupBy("k").agg(org.apache.spark.sql.functions.count("vb").as("nb"))
      val j = a.join(b, Seq("k"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2500))
      assert(j.count() == 32)
      assert(j.filter(col("k") === 3).head().getLong(2) == 10L) // 320/32 per lead
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("pushed-filter pruning drives the kv-side broadcast decision") {
    // the 100x join-planning contract: a kv table whose pushed lead-key
    // filter prunes to a sliver must report POST-prune statistics, so
    // the planner broadcasts the filtered side instead of defaulting to
    // sort-merge off whole-table numbers. Negative control included —
    // the unfiltered side must NOT broadcast under the same threshold.
    import org.apache.spark.sql.functions._
    val dim = java.nio.file.Files.createTempDirectory("kv_bstats")
      .toString + "/t"
    // many small segments so the filtered slice is a tiny fraction
    spark.range(60000).coalesce(1)
      .select((col("id") / 100).cast("long").as("k"),
        concat(lit("pad-pad-pad-pad-pad-"), col("id")).as("v"))
      .write.format("graftkv").option("key", "k,v")
      .option("segment.maxBytes", "65536").mode("overwrite").save(dim)
    // the decoded size the scan's estimate sums (the zstd files on disk
    // are several times smaller)
    val fullBytes = graft.store.SegmentFile.listSegments(dim)
      .map(_.rawBytes).sum
    val fact = spark.range(60000)
      .select((col("id") / 100).cast("long").as("k"), col("id").as("x"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // threshold far below the table, far above the filtered slice
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (fullBytes / 4).toString)
      val dimDf = spark.read.format("graftkv").load(dim)
      val filtered = fact.join(dimDf.filter(col("k") < 5L), Seq("k"))
      filtered.collect()
      val planF = filtered.queryExecution.executedPlan.toString
      assert(planF.contains("BroadcastHashJoin"),
        s"filtered kv side (pruned stats) must broadcast:\n${planF.take(2500)}")
      val unfiltered = fact.join(dimDf, Seq("k"))
      unfiltered.collect()
      val planU = unfiltered.queryExecution.executedPlan.toString
      assert(!planU.contains("BroadcastHashJoin"),
        s"whole kv table above threshold must not broadcast:\n${planU.take(2500)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("kv point lookup scans exactly one partition (plan-verified)") {
    // materialize the kv fixture (idempotent), then inspect pruning directly
    val rows = SparkEntry.queries("kv2_point_lookup")(spark, sf).collect()
    assert(rows.nonEmpty)
    val kvPath = KvOps.fixturePath(sf, "lineitem")
    val graft.connector.KvTableMeta(schema, keys, _, _, _) = graft.connector.GraftKvMeta.read(kvPath)
      .getOrElse(fail(s"no kv fixture at $kvPath"))
    val all = new graft.connector.GraftKvScan(kvPath, schema, keys, schema,
      Array.empty, -1).planInputPartitions().length
    val pruned = new graft.connector.GraftKvScan(kvPath, schema, keys, schema,
      Array(org.apache.spark.sql.sources.EqualTo("l_orderkey", 1L)), -1)
      .planInputPartitions().length
    assert(pruned == 1, s"point lookup pruned to $pruned of $all partitions")
  }

  test("fuzzy pair generation is JOIN-FREE (the dd10 regression guard)") {
    // the first cut self-joined the exploded deletion-key table — Spark
    // broadcast a ~285k-row build three bench reps in a row, costing 5 s
    // and poisoning every query after it. The bucket-local shape has no
    // join node of any kind; pin that so it cannot quietly come back.
    import org.apache.spark.sql.functions.col
    val df = graft.pipeline.FuzzyMatch.pairsWithinDistance1(
      graft.Tables.table(spark, sf, "customer"), "c_custkey", "c_name")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    for (j <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(j), s"fuzzy plan must not contain $j")
  }

  test("ad-hoc BM25 scores map-side: no document-keyed exchange (r15)") {
    val df = graft.pipeline.Retrieval.bm25TopK(
      graft.Tables.table(spark, sf, "documents"), Seq("spark", "scan"),
      k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // r14 shape shuffled the corpus by (doc_id, term) for tf and by
    // doc_id for the score sum; both are now column folds over the
    // stored query-term tokens, and df/stats arrive as one broadcast
    // single-row aggregate — the only remaining exchange is that
    // aggregate's SinglePartition reduction
    assert(!plan.contains("hashpartitioning(doc_id"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      plan.take(3000))
  }

  test("batch BM25 ranks over matched (query, doc) rows only: the sole " +
      "hash exchange is the per-query window (r15)") {
    val df = graft.pipeline.Retrieval.bm25TopKBatch(
      graft.Tables.table(spark, sf, "documents"),
      Seq("qa" -> Seq("spark", "scan"), "qb" -> Seq("table")), k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"), plan.take(3000))
    val hashEx = "Exchange hashpartitioning\\(query_id".r.findAllIn(plan).size
    assert(hashEx >= 1, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == hashEx,
      plan.take(3000))
  }

  test("batch BM25 broadcasts the query set and the corpus stats") {
    val df = graft.pipeline.Retrieval.bm25TopKBatch(
      graft.Tables.table(spark, sf, "documents"),
      Seq("qa" -> Seq("spark", "scan"), "qb" -> Seq("table")), k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only joins are broadcast (tiny query/df sides + the 1-row
    // stats cross join) — the corpus side never shuffles for a join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("k-NN join broadcasts the query batch; the corpus never shuffles " +
      "for the join") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.table(spark, sf, "embeddings")
    val df = graft.pipeline.Similarity.knnJoinBruteForce(
      emb.filter(col("vec_id") < 3), emb, k = 4)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // query side broadcast into a nested-loop (cross) join — the corpus
    // reaches the scorer in place; the only repartition is the window's
    // hash on query_id over the ALREADY-SCORED pairs
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(3000))
    // and the scoring runs the native kernel, not interpreted HOFs
    assert(plan.contains("dot_product"), plan.take(3000))
  }

  test("hive-partitioned scan prunes to the filtered lang directory") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = java.nio.file.Files.createTempDirectory("bylang").toString
    graft.Tables.table(spark, sf, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    def countParquet(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(countParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val total = countParquet(new java.io.File(dir))
    val df = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id", "n_chars")
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan).head
    assert(scan.metadata("PartitionFilters").contains("lang"),
      scan.metadata("PartitionFilters"))
    val read = scan.metrics("numFiles").value
    assert(read > 0 && read < total,
      s"expected directory-level pruning: read $read of $total files")
  }

  test("ad-hoc BM25 tokenizes the corpus ONCE (both consumers read the" +
      " persisted narrow pass, no direct corpus re-scan)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = graft.pipeline.Retrieval.bm25TopK(
      graft.Tables.table(spark, sf, "documents"), Seq("spark", "scan"),
      k = 5)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val ns = nodes(df.queryExecution.executedPlan)
    // the tokenize scan happened only in the eager localCheckpoint
    // (round-12: checkpoint blocks, not a CacheManager entry — see
    // Retrieval.narrowToks); stats and postings both read the stored
    // RDD form, never the corpus files
    assert(!ns.exists(_.isInstanceOf[FileSourceScanExec]),
      "corpus re-scanned outside the checkpointed pass")
    val stored = ns.count(n => n.isInstanceOf[InMemoryTableScanExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec])
    assert(stored >= 2, ns.map(
      _.getClass.getSimpleName).distinct.mkString(", "))
  }
}
