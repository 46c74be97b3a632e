package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[N], prints ONE compact JSON line as the
  * very last stdout of the process.
  *
  * Reporting contract (round-7 hardening): the driver records only the
  * last ~2 KB of combined output, so the printed line carries the
  * headline medians + section totals ONLY and must stay well under that
  * window; the full per-section breakdown (TPC-H per-query, sf1
  * per-query, plan probes, dedup diagnostics, prev-round deltas) goes to
  * `tmp/bench_detail.json`. Every timed number is the MEDIAN OF 3 runs
  * and the line carries `calibration_sec` (a fixed pure-JVM workload) so
  * a load-distorted run is recognizable from the artifact alone. */
object Bench {

  /** Repo root for fixtures and round artifacts: the working directory
    * (sbt runs mains from the checkout root). Hardcoding the one dev
    * checkout's absolute path made every fixture silently vanish from
    * the detail JSON when Bench ran from any other clone. */
  private val repoRoot: String =
    new java.io.File(".").getCanonicalPath.stripSuffix("/")

  /** Build (once — subsequent runs reuse the dir) a synthetic
    * `nSegs`-segment kv table for the driver-planning benches: 3 rows
    * per segment (segment i holds keys i*10 .. i*10+2, v = i), one
    * manifest commit, NDV and quantile sketches on every segment so the
    * metadata-agg probes work at the same scale. A leftover fixture
    * without them, or in an older sidecar format, is rebuilt. */
  private def buildPlanFixture(dir: String, nSegs: Int): Unit = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    if (fixtureExists(dir) &&
      (!graft.store.SegmentFile.ndvSketches(dir).values.headOption
        .exists(_.exists(_.name == "v")) ||
        !graft.store.SegmentFile.qsSketches(dir).values.headOption
          .exists(_.exists(_.name == "v")))) {
      graft.connector.KvCommands.dropTable(dir)
    }
    if (fixtureExists(dir)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val codec = graft.store.RowCodec(schema, Seq("k"))
    val hll = new org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper(
      graft.store.SegmentFile.NdvRsd)
    val names = (0 until nSegs).map { i =>
      val name = f"segment-$i%06d-000000-bench000"
      val w = new graft.store.SegmentFile.Writer(dir, name,
        cmp = codec.compareKeys, schemaJson = schema.json, gen = 1L)
      val bufs = Array.fill(2)(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array.fill[Any](hll.numWords)(0L)))
      var qsK = new org.apache.spark.sql.catalyst.util.QuantileSummaries(
        org.apache.spark.sql.catalyst.util.QuantileSummaries
          .defaultCompressThreshold, graft.store.SegmentFile.QsRelativeError)
      var qsV = new org.apache.spark.sql.catalyst.util.QuantileSummaries(
        org.apache.spark.sql.catalyst.util.QuantileSummaries
          .defaultCompressThreshold, graft.store.SegmentFile.QsRelativeError)
      (0 until 3).foreach { j =>
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i * 10L + j, i.toLong))
        w.write(codec.encodeKey(row), codec.encodeValue(row))
        hll.update(bufs(0), 0, i * 10L + j, LongType)
        hll.update(bufs(1), 0, i.toLong, LongType)
        qsK = qsK.insert((i * 10L + j).toDouble)
        qsV = qsV.insert(i.toDouble)
      }
      def words(b: org.apache.spark.sql.catalyst.expressions.GenericInternalRow) =
        Array.tabulate(hll.numWords)(b.getLong)
      w.close(Seq.empty, Seq(
        graft.store.SegmentFile.NdvSketch("k", words(bufs(0))),
        graft.store.SegmentFile.NdvSketch("v", words(bufs(1)))),
        Seq.empty,
        Seq(graft.store.SegmentFile.QuantileSketch.fromSummaries("k", qsK),
          graft.store.SegmentFile.QuantileSketch.fromSummaries("v", qsV)))
      s"$name.kv"
    }
    commitFixture(dir, graft.connector.KvTableMeta(schema, Seq("k"),
      graft.store.RowCodec.Binary), names)
  }

  /** Where the cached kv fixture `name` lives. The `_m3` suffix names
    * the table layout (manifest versions carry the declaration, sidecars
    * are format V15): bump it when the layout changes, so a fixture an
    * older build left is never opened. */
  private def fixtureDir(name: String): String = s"$repoRoot/tmp/${name}_m3"

  /** A kv fixture an earlier run published at `dir`. */
  private def fixtureExists(dir: String): Boolean =
    graft.store.SegmentFile.currentVersion(dir).isDefined

  /** Publish hand-written segments as a fixture table's first version. */
  private def commitFixture(dir: String, meta: graft.connector.KvTableMeta,
      names: Seq[String]): Unit =
    graft.store.SegmentFile.createManifest(dir, graft.store.SegmentFile.Manifest(
      graft.connector.GraftKvMeta.encode(meta), names.toSet)): Unit

  /** Headline set: one representative per operator family, weighted
    * toward the scans/joins/aggs that dominate 100 TB workloads. */
  val headline: Seq[String] = Seq(
    "a8_tpch_q1",            // wide aggregation over the fact table
    "a17_tpch_q5",           // 6-way star join (TPC-H Q5 shape)
    "a1_groupby_count",      // high-cardinality groupBy
    "j1_inner_equi",         // fact×dim shuffle join
    "j9_fact_dim_broadcast", // broadcast join
    "p4_range_conjunction",  // pushed-filter scan
    "s2_point_lookup",       // point lookup (parquet)
    "kv2_point_lookup",      // key-pruned point lookup through the KV connector
    "kv5_agg_over_kv",       // full-table scan + agg through the KV connector
    "kv18_runtime_pruned_join", // star join: runtime scan pruning (DPP analog)
    "kv25_zorder_box",       // multi-dim box query on the z-clustered layout
    "kv26_metadata_sum",     // COUNT + exact SUM from segment metadata
    "kv29_index_lookup",     // secondary-index seek + runtime-IN base prune
    "kv30_matview_agg",      // incrementally-maintained aggregate view read
    "kv36_window_on_kv",     // shuffle-free + sort-free window on the key order
    "j12_asof_join",         // as-of join (union + single window pass)
    "j13_range_join",        // interval join (bucketed equi-join + residual)
    "j14_resample_gapfill",  // time-series resample + forward fill
    "kv42_metadata_percentile", // whole-table percentile from GK summaries
    "kv46_metadata_string_minmax", // string MIN/MAX + SUM/COUNT from metadata
    "kv48_decimal_metadata_agg", // exact DECIMAL SUM/MIN/MAX from V13 claims
    "t2_sort_multi_dir",     // top-k
    "w2_running_sum",        // window
    "dd1_exact_dedup",       // dedup hash-group
    "dd3_minhash_lsh_neardup", // minhash + LSH + verify
    // dd10_editdistance_pairs moved to the dedup detail section
    // (round-14, verdict item 4): its full FastSS sweep was 26% of the
    // headline with a 5× rep spread under contention — one volatile
    // row dominating the cross-round total. The correctness gate and
    // the detail/stress rows keep the full sweep; the headline stays a
    // broad, stable basket. (Cross-round note: r14 headline total
    // drops by dd10's ~2.5-3.7 s for this structural reason, not a
    // plan win — compare dedup.dd10_sec across rounds for the op.)
    "dd9_substring_dedup",   // Lee et al. substring dedup (linear rebuild, r11)
    "ir1_bm25_topk",         // BM25 ranking straight off the corpus
    "ir2_bm25_index",        // BM25 probing the materialized kv postings index
    "ir4_bm25_batch",        // whole query set in one corpus pass
    "cu1_topk_per_group",    // per-group quality top-k (windowed rank)
    "cu3_sequence_pack",     // token-budget sequence packing
    "tx3_quality_score",     // text scoring scan
    "ann1_bruteforce_topk",  // similarity search (exact baseline)
    "ann2_lsh_topk",         // similarity search (materialized-index probe)
    "ann6_quantized_ivf",    // int8 quantized IVF probe (4× fewer bytes)
    "ev1_tumbling_window")   // event-time windowed agg

  /** The full TPC-H suite over the corpus schema (Q1/Q3/Q5/Q10/Q18 under
    * their original a-names + the h-completions), timed as its OWN
    * section so the headline total stays comparable across rounds. */
  val tpchSuite: Seq[String] = Seq(
    "a8_tpch_q1", "h02_tpch_q2", "a16_tpch_q3", "h04_tpch_q4",
    "a17_tpch_q5", "h06_tpch_q6", "h07_tpch_q7", "h08_tpch_q8",
    "h09_tpch_q9", "a18_tpch_q10", "h11_tpch_q11", "h12_tpch_q12",
    "h13_tpch_q13", "h14_tpch_q14", "h15_tpch_q15", "h16_tpch_q16",
    "h17_tpch_q17", "a19_tpch_q18", "h19_tpch_q19", "h20_tpch_q20",
    "h21_tpch_q21", "h22_tpch_q22",
    // the same queries on the engine's own storage (fixtures warm)
    "kv32_tpch_q3_on_kv", "kv34_tpch_q18_on_kv",
    "kv44_tpch_q1_on_kv", "kv45_tpch_q6_on_kv")

  /** Primary-SF per-query timings of the newest PARSEABLE previous
    * round's bench artifact. The driver wraps the bench line in a JSON
    * object (`{"n":…,"tail":"…","parsed":…}`) whose `tail` keeps only
    * the last ~2 KB of output — so this walks rounds newest-first, tries
    * the wrapper's `parsed` field, then a strict JSON parse of the
    * `{"metric":"total"…}` line found inside `tail` (or the raw file),
    * and SKIPS any file where nothing parses (a truncated tail must not
    * anchor deltas mid-artifact). */
  private def prevRound(): Option[(Int, Map[String, Double])] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val mapper = new ObjectMapper()
    def queriesOf(node: JsonNode): Option[Map[String, Double]] =
      Option(node.get("queries")).filter(_.isObject).map { q =>
        val it = q.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    // strict parse of the FIRST line starting at the last bench marker
    def fromText(text: String): Option[Map[String, Double]] = {
      val i = text.lastIndexOf("{\"metric\":\"total\"")
      if (i < 0) None
      else {
        val line = text.substring(i).takeWhile(_ != '\n')
        try queriesOf(mapper.readTree(line)) catch { case _: Exception => None }
      }
    }
    val dir = new java.io.File(repoRoot)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => -f.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
    files.iterator.flatMap { f =>
      val round = f.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt
      val content = try new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      catch { case _: Exception => "" }
      val viaWrapper = try {
        val root = mapper.readTree(content)
        Option(root.get("parsed")).filter(p => p != null && p.isObject)
          .flatMap(queriesOf)
          .orElse(Option(root.get("tail")).filter(_.isTextual)
            .flatMap(t => fromText(t.asText())))
      } catch { case _: Exception => None }
      viaWrapper.orElse(fromText(content)).map(round -> _)
    }.nextOption()
  }

  /** Spark-side mirror of tools/make_sf1.py: replicate the primary-SF
    * corpus `factor`× into `dst` — fact tables get key-shifted copies
    * (one shift constant for the whole orderkey domain so orders ⊇
    * lineitem joins stay valid), dimension tables copy unscaled
    * (realistic fact-vs-dim growth). Built into a staging dir and
    * renamed, so a killed build never half-satisfies the existence
    * check. */
  private[graft] def buildSf1(spark: SparkSession, src: String, dst: String,
      factor: Int = 10): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val t0 = System.nanoTime()
    val staging = dst + ".building"
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    rmTree(new java.io.File(staging))
    val reps = spark.range(factor).select(col("id").as("rep"))
    def shiftConst(name: String, key: String): Long =
      Tables.table(spark, src, name)
        .agg(max(col(key)).cast("long")).head().getLong(0) + 1
    // Output parallelism (round 15, guide §6): the source corpus is
    // single-row-group parquet, so the crossJoin inherits ONE partition
    // and the old writer produced 1-2 part files per fact table — every
    // sf1-section scan then ran on 1-2 of the session's cores, and the
    // 10× "scale" section measured mostly a self-inflicted input-skew
    // floor, not the plans. Spread each shifted fact over the session's
    // parallelism so the fixture reads like real multi-split data.
    // floor of 16: the fixture persists across runs, and the driver
    // re-benches at LOWER core counts — a fixture first built by a
    // low-core run must not under-split the later full-core sections
    val outParts = math.max(spark.sparkContext.defaultParallelism, 16)
    def writeShifted(name: String, key: String, k: Long): Unit =
      Tables.table(spark, src, name)
        .crossJoin(reps)
        .withColumn(key, col(key) + col("rep") * k)
        .drop("rep")
        .repartition(outParts)
        .write.mode("overwrite").parquet(s"$staging/$name.parquet")
    val ko = shiftConst("orders", "o_orderkey")
    writeShifted("orders", "o_orderkey", ko)
    writeShifted("lineitem", "l_orderkey", ko)
    writeShifted("events", "event_id", shiftConst("events", "event_id"))
    writeShifted("documents", "doc_id", shiftConst("documents", "doc_id"))
    writeShifted("embeddings", "vec_id", shiftConst("embeddings", "vec_id"))
    Seq("region", "nation", "customer", "supplier", "part").foreach { d =>
      spark.read.parquet(s"$src/$d.parquet")
        .write.mode("overwrite").parquet(s"$staging/$d.parquet")
    }
    rmTree(new java.io.File(dst))
    new java.io.File(dst).getParentFile.mkdirs()
    if (!new java.io.File(staging).renameTo(new java.io.File(dst)))
      throw new java.io.IOException(s"rename $staging -> $dst failed")
    System.err.println(
      f"[bench] built sf1 corpus at $dst (${factor}x $src) in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // honor the kv scan's KeyGroupedPartitioning (shuffle-free GROUP BY)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // partition-value padding would align differently-bounded kv tables
      // by their range-minimum partition values (silent join row loss);
      // with it off, mismatched tables fall back to shuffle
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
      // native functions, graft SQL statements, secondary-index rewrite
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftExtensions.quietDegenerateDppWarns()
    val queries = SparkEntry.queries

    // calibration: a fixed single-thread pure-JVM workload (xorshift64*
    // over 2^28 steps). Machine-load-independent work, so its wall time
    // scales with contention: a quiet run lands ~0.3-0.5 s and a loaded
    // driver run inflates proportionally — the artifact self-reports
    // whether its numbers are trustworthy.
    def calibrateOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L; var acc = 0L; var i = 0
      while (i < (1 << 28)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
      }
      if (acc == 42L) System.err.println("") // keep `acc` live
      (System.nanoTime() - t0) / 1e9
    }
    def median3(f: () => Double): Double = {
      val rs = Seq(f(), f(), f()).sorted; rs(1)
    }
    val calibration = median3(calibrateOnce _)

    // MULTI-core calibration: the same workload split across `cpus`
    // threads (each 1/cpus of the steps). The single-thread number can't
    // see CPU oversubscription — a container sharing its cores with
    // other work runs 1 thread at full speed while a 32-way stage
    // crawls. Round 8's dd3 "regression" was exactly that: identical
    // single-thread calibration (0.55 s) on a machine where the same
    // query ran 0.7 s quiet and 2.9 s under the driver — this number
    // makes that state legible from the artifact alone (quiet ≈
    // calibration_sec/cpus; inflation = core contention).
    def calibrateMtOnce(): Double = {
      val n = math.max(1, cpus.toInt)
      val steps = (1 << 28) / n
      val t0 = System.nanoTime()
      val ts = (0 until n).map { i =>
        new Thread(() => {
          var x = 88172645463325252L + i; var acc = 0L; var j = 0
          while (j < steps) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; j += 1
          }
          if (acc == 42L) System.err.println("")
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationMt = median3(calibrateMtOnce _)

    // explicit cache lifecycle: every section's numbers must be
    // independent of what an earlier section left pinned in executor
    // memory, so section boundaries sweep the CacheManager and ASSERT
    // nothing survived (pipeline persists are idempotent re-registrations
    // — see Dedup.diskPersist — so a sweep costs one rebuild, not a
    // correctness risk).
    //
    // BROADCAST hygiene (round 10 — the r9 tpch-section h04/a17
    // anomaly): clearCache() does NOT free broadcast blocks; they are
    // reclaimed only when ContextCleaner sees the driver-side Broadcast
    // objects GC'd, which an 8 GB heap may not do for a whole run. The
    // sweep therefore forces a GC and gives the cleaner thread a short
    // drain window, so each section starts with the dead build
    // relations of earlier sections actually released — and records
    // (heap, cumulative GC ms, broadcast blocks/bytes) before and after
    // into the detail JSON, so any future in-run inflation is
    // diagnosable from the artifact alone (the dd3 playbook).
    val sectionDiag = Seq.newBuilder[String]
    // (section, single-thread cal, multi-thread cal) at each boundary:
    // the round-12 run-level bracket PROVED mid-run contention arrived
    // but could not attribute it to a section (sf1 runs last and ate a
    // 2× core squeeze that read as a 31× query regression). One
    // calibration run per boundary — a drift telltale, not a precise
    // number — makes every section's load state adjudicable from the
    // artifact alone.
    val sectionCal = Seq.newBuilder[(String, Double, Double)]
    def sweepCaches(where: String): Unit = {
      import java.lang.management.ManagementFactory
      import scala.jdk.CollectionConverters._
      def heapMb: Long = {
        val r = Runtime.getRuntime
        (r.totalMemory - r.freeMemory) >> 20
      }
      def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
      val (bc0, bb0) = org.apache.spark.sql.graftbridge.broadcastBlockStats(spark)
      val (h0, g0) = (heapMb, gcMs)
      spark.catalog.clearCache()
      require(org.apache.spark.sql.graftbridge.cacheIsEmpty(spark),
        s"cached plans survived the $where section sweep")
      System.gc()
      Thread.sleep(300) // ContextCleaner drains its reference queue async
      val (bc1, bb1) = org.apache.spark.sql.graftbridge.broadcastBlockStats(spark)
      val calSt = calibrateOnce()
      val calMt = calibrateMtOnce()
      sectionCal += ((where, calSt, calMt))
      sectionDiag += s""""$where":{"heap_mb":$h0,"heap_mb_after":$heapMb,""" +
        s""""gc_ms_total":$g0,"bcast_blocks":$bc0,"bcast_mb":${bb0 >> 20},""" +
        s""""bcast_blocks_after":$bc1,"bcast_mb_after":${bb1 >> 20},""" +
        s""""cal_st_sec":${fmt(calSt)},"cal_mt_sec":${fmt(calMt)}}"""
    }

    // untimed warmup: JIT/codegen + parquet footer caches + one-time KV
    // fixture and ANN index builds, so timed queries measure query cost
    // only (the index is built once and reused — the scale contract).
    // The dedup pipeline queries warm their own stages: their cold cost
    // is dominated by whole-stage-codegen compilation of the multi-stage
    // join pipelines (~1s JVM-wide, measured), which amortizes to zero
    // at any real corpus size — steady-state is the scale-relevant cost.
    // kv29/kv30 warm because their FIRST run builds the secondary index /
    // materialized view (a once-per-table cost a fresh driver container
    // would otherwise fold into the timed number)
    Seq("s3_count_star", "kv2_point_lookup", "kv25_zorder_box",
      "kv26_metadata_sum", "kv29_index_lookup", "kv30_matview_agg",
      "kv32_tpch_q3_on_kv", "kv34_tpch_q18_on_kv", "h02_tpch_q2",
      "kv48_decimal_metadata_agg", // first run builds the decimal fixture
      "ann2_lsh_topk", "dd1_exact_dedup",
      "dd3_minhash_lsh_neardup", "dc2_decontaminate").foreach { w =>
      try queries(w)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $w failed: ${e.getMessage}")
      }
    }
    // ONE untimed pass over the whole headline set (round-12): the
    // fixture list above warms kv/index builds, but the early join
    // queries' parquet inputs (part, supplier, …) stayed cold, so the
    // first timed rep of a17/j9 paid first-touch I/O + codegen that the
    // tpch section then measured 2-6× cheaper in the SAME artifact —
    // cold-start reading as round-over-round regression. After this
    // pass every timed number is steady-state, which is the
    // scale-relevant cost (at 100 TB nothing is "first-touch" twice).
    headline.foreach { w =>
      try queries(w)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] headline warm $w failed: ${e.getMessage}")
      }
    }

    // median of 3 per query; -1 marks a failed query so a crash can't
    // read as a fast run. (min, max) go to the detail file. ADAPTIVE
    // reps (round-13, verdict item 9): a query whose 3 reps disagree by
    // >2× AND >0.3 s — the same thresholds the driver line's "unstable"
    // telemetry reports — gets 2 extra reps and a median of 5, so a
    // one-off contention spike stops wobbling medians across rounds
    // while stable queries pay nothing.
    final case class Timing(name: String, med: Double, min: Double, max: Double,
      reps: Int = 3)
    def timed(dir: String, names: Seq[String] = headline): Seq[Timing] =
      names.filter(queries.contains).map { name =>
        def rep(): Double = {
          val t0 = System.nanoTime()
          try { queries(name)(spark, dir).count()
            (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
          }
        }
        var runs = (1 to 3).map(_ => rep())
        // escalation triggers on ANY >2× ratio worth measuring (>50 ms
        // absolute — below that is timer/JIT noise), not just the 0.3 s
        // "unstable" threshold: spread_max_ratio counts every query, and
        // r14 shipped a 2.4× ratio on a 0.13 s query that the old 0.3 s
        // gate never re-measured.
        if (!runs.exists(_ < 0) &&
          runs.max / math.max(runs.min, 1e-9) > 2.0 && runs.max - runs.min > 0.05) {
          // CONTENTION-GATED re-measure (round-14, verdict item 4): the
          // r13 adaptive median-of-5 did not protect dd10 — a contended
          // rep block dominates extra reps too. Bracket each extra rep
          // with the multi-core calibration probe and keep only reps
          // whose bracket is within 2× of the run-level baseline (the
          // machine was comparably quiet); median over the clean set.
          // If every bracket shows squeeze, fall back to all reps — the
          // spread then stays visible in the unstable telemetry rather
          // than being laundered into a fake-clean median.
          val bracketed = (1 to 5).map { _ =>
            val c = calibrateMtOnce(); (rep(), c)
          }
          val clean = bracketed
            .filter { case (s, c) => s >= 0 && c <= calibrationMt * 2.0 }
            .map(_._1)
          runs =
            if (clean.length >= 3) clean
            else runs ++ bracketed.map(_._1)
        }
        if (runs.exists(_ < 0)) Timing(name, -1.0, -1.0, -1.0, runs.length)
        else Timing(name, runs.sorted.apply(runs.length / 2),
          runs.min, runs.max, runs.length)
      }
    // Locale.ROOT: the f-interpolator uses the default locale, which can
    // emit comma decimals and break the JSON contract
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def obj(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def objT(rs: Seq[Timing]): String = obj(rs.map(t => t.name -> t.med))
    def totalOf(rs: Seq[Timing]): Double = rs.map(_.med).filter(_ >= 0).sum

    val results = timed(sfDir)
    val total = totalOf(results)
    sweepCaches("headline")

    // in-run regression tracking: per-query delta vs the previous round's
    // bench (positive = slower this round), so creep is visible without
    // diffing round files by hand. Detail file only; the main line keeps
    // the single total delta over shared queries.
    val prev = prevRound()
    val prevDeltas: Seq[(String, Double)] = prev.toSeq.flatMap { case (_, pq) =>
      results.collect {
        case t if t.med >= 0 && pq.get(t.name).exists(_ >= 0) =>
          t.name -> (t.med - pq(t.name))
      }
    }
    val prevDetail = prev.map { case (round, _) =>
      s""","prev_round":$round,"prev_delta":${obj(prevDeltas)}"""
    }.getOrElse("")
    val prevLine = prev.map { case (round, _) =>
      s""","prev_round":$round,"prev_total_delta":${fmt(prevDeltas.map(_._2).sum)}"""
    }.getOrElse("")

    // plan-time scaling probe: a synthetic 10,000-segment kv table (the
    // segment count of a ~2.5 TB table at 256 MB segments) must PLAN in
    // O(1) metadata reads — cold = a fresh driver process (one packed
    // stats read + parse), warm = version-cached (zero metadata reads).
    // Guards the 100-TB driver bottleneck the packed manifest stats
    // exist for; query cost itself is one pruned point lookup.
    var plan10kCold = -1.0; var plan10kWarm = -1.0
    val plan10kJson = try {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import org.apache.spark.sql.functions.col
      val nSegs = 10000
      val dir = fixtureDir("plan10k")
      val schema = StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType, nullable = false)))
      // rebuild a leftover fixture the NDV and percentile probes cannot
      // use: segments without sketches, or sidecars in an older format
      // (which fail to open)
      if (fixtureExists(dir) &&
        !scala.util.Try(
          graft.store.SegmentFile.ndvSketches(dir).values.headOption
            .exists(_.exists(_.name == "v")) &&
          graft.store.SegmentFile.qsSketches(dir).values.headOption
            .exists(_.exists(_.name == "v"))).getOrElse(false)) {
        graft.connector.KvCommands.dropTable(dir)
      }
      buildPlanFixture(dir, nSegs)
      def planOnce(key: Long): Double = {
        val t0 = System.nanoTime()
        val n = spark.read.format("graftkv").load(dir)
          .where(col("k") === key).count()
        require(n == 1, s"plan10k probe read $n rows for key $key")
        (System.nanoTime() - t0) / 1e9
      }
      planOnce(50001L) // JIT/codegen warmup (cache cleared below)
      plan10kCold = median3 { () =>
        graft.store.SegmentFile.clearPlanningCache()
        planOnce(10001L)
      }
      plan10kWarm = median3(() => planOnce(20002L))
      // secondary-index lookup at the same scale: `v` identifies one
      // segment, so an indexed equality on this 10,000-segment table
      // must stay point-lookup-flat (the (v, k)-only shape takes the
      // covering path — the probe never opens the base table at all)
      import graft.connector.KvIndex
      KvIndex.get(dir, "iv") match {
        case None => KvIndex.create(spark, dir, "iv", Seq("v"))
        case Some(d) if !KvIndex.inSync(dir, d) =>
          KvIndex.refresh(spark, dir, "iv")
        case _ => ()
      }
      def idxOnce(v: Long): Double = {
        val t0 = System.nanoTime()
        val n = spark.read.format("graftkv").load(dir)
          .where(col("v") === v).count()
        require(n == 3, s"plan10k index probe read $n rows for v $v")
        (System.nanoTime() - t0) / 1e9
      }
      idxOnce(5001L) // warmup
      val viaIndex = median3(() => idxOnce(7777L))
      // pushed TopN: "latest k by key" on the 10k-segment table must
      // plan only the tail segments (SupportsPushDownTopN selection),
      // i.e. stay point-lookup-flat at any table size
      def topkOnce(): Double = {
        val t0 = System.nanoTime()
        val rows = spark.read.format("graftkv").load(dir)
          .orderBy(col("k").desc).limit(5).collect()
        require(rows.length == 5 && rows.head.getLong(0) == (nSegs - 1) * 10L + 2,
          s"plan10k topk probe got ${rows.length} rows")
        (System.nanoTime() - t0) / 1e9
      }
      topkOnce() // warmup
      val topk = median3(topkOnce _)
      // metadata NDV at the same scale: approx_count_distinct over the
      // 10k-segment table answers from merged V9 sketches (KvNdvRule) —
      // zero data bytes, so it must stay metadata-flat like the plan
      def ndvOnce(): Double = {
        val t0 = System.nanoTime()
        val est = spark.read.format("graftkv").load(dir)
          .agg(org.apache.spark.sql.functions
            .approx_count_distinct("v").as("ndv")).head().getLong(0)
        require(math.abs(est - nSegs) <= nSegs * 0.15,
          s"plan10k ndv probe estimated $est for $nSegs distinct")
        (System.nanoTime() - t0) / 1e9
      }
      ndvOnce() // warmup (builds the _graft_ndv pack once)
      val ndv = median3(ndvOnce _)
      // metadata approx_percentile at the same scale: the 10k-segment
      // median answers from merged V11 summaries (KvPercentileRule) —
      // metadata-flat like NDV; v is uniform 0..nSegs-1, so p50 must
      // land near the middle (the ε-rank contract at 3 rows/segment)
      def pctOnce(): Double = {
        val t0 = System.nanoTime()
        val est = spark.read.format("graftkv").load(dir)
          .agg(org.apache.spark.sql.functions.percentile_approx(
            col("v"), org.apache.spark.sql.functions.lit(0.5),
            org.apache.spark.sql.functions.lit(10000)).as("p"))
          .head().getLong(0)
        require(math.abs(est - nSegs / 2) <= nSegs * 0.01 + 2,
          s"plan10k pct probe got $est for ${nSegs / 2} expected")
        (System.nanoTime() - t0) / 1e9
      }
      pctOnce() // warmup (builds the _graft_qs pack once)
      val pct = median3(pctOnce _)
      s""","plan10k":{"segments":$nSegs,"cold_sec":${fmt(plan10kCold)},"warm_sec":${fmt(plan10kWarm)},"index_sec":${fmt(viaIndex)},"topk_sec":${fmt(topk)},"ndv_sec":${fmt(ndv)},"pct_sec":${fmt(pct)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] plan10k failed: ${e.getMessage}")
      ""
    }

    // planning at 100,000 segments (round-15): the lead-interval index
    // makes static pruning O(log n + k) in segment count — this pins
    // the claim END-TO-END at the segment count a ~25 TB table carries
    // at 256 MB/segment. The graded number is the warm 10k→100k RATIO:
    // sub-linear growth here is what extrapolates to the 400k-segment
    // 100-TB figure (a ratio near 10 would mean planning is still
    // walking every segment's bounds per query).
    var plan100kCold = -1.0; var plan100kWarm = -1.0
    val plan100kJson = try {
      import org.apache.spark.sql.functions.col
      val nSegs = 100000
      val dir = fixtureDir("plan100k")
      buildPlanFixture(dir, nSegs)
      def planOnce(key: Long): Double = {
        val t0 = System.nanoTime()
        val n = spark.read.format("graftkv").load(dir)
          .where(col("k") === key).count()
        require(n == 1, s"plan100k probe read $n rows for key $key")
        (System.nanoTime() - t0) / 1e9
      }
      planOnce(500010L) // JIT/codegen warmup (cache cleared below)
      plan100kCold = median3 { () =>
        graft.store.SegmentFile.clearPlanningCache()
        planOnce(100010L)
      }
      plan100kWarm = median3(() => planOnce(200020L))
      val ratio =
        if (plan10kWarm > 0) plan100kWarm / plan10kWarm else -1.0
      s""","plan100k":{"segments":$nSegs,"cold_sec":${fmt(plan100kCold)},"warm_sec":${fmt(plan100kWarm)},"warm_ratio_vs_10k":${fmt(ratio)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] plan100k failed: ${e.getMessage}")
      ""
    }

    // multi-dim skip-scan probe (round-15, verdict item 2): a 3-key
    // table probed on dims 1+3 — the unfiltered MIDDLE dimension is
    // exactly what the r14 reader couldn't descend past. A/B at the
    // cursor level on one fixture: lead-only enforcement (the r14
    // behavior, deep ranges withheld) vs the full per-dimension
    // descent; `decoded` is the records the reader actually
    // deserialized — decoded≈matched is the 100-TB claim (a probe's
    // IO tracks its answer, not the qualified blocks' size).
    var skipscanSpeedup = -1.0
    val skipscanJson = try {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val dir = fixtureDir("benchskipscan")
      if (!fixtureExists(dir)) {
        graft.connector.KvCommands.createTable(
          spark.range(4000000L).select(
            (col("id") / 250000L).cast("long").as("k1"),
            (pmod(col("id"), lit(250000L)) / 31250L).cast("long").as("k2"),
            pmod(col("id"), lit(31250L)).as("k3"),
            col("id").as("v")),
          dir, Seq("k1", "k2", "k3"))
      }
      val meta = graft.connector.GraftKvMeta.read(dir).get
      val fs: Array[org.apache.spark.sql.sources.Filter] = Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("k1", 4L),
        org.apache.spark.sql.sources.LessThanOrEqual("k1", 5L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("k3", 1000L),
        org.apache.spark.sql.sources.LessThanOrEqual("k3", 1099L))
      // (sec, decoded, matched) over all planned partitions; deep=false
      // strips the trailing-dim ranges from the partitions — byte-for-
      // byte the r14 lead-only read of the same segments
      def walk(deep: Boolean): (Double, Long, Long) = {
        val scan = new graft.connector.GraftKvScan(dir, meta.schema,
          meta.keys, meta.schema, fs, -1)
        val parts = scan.planInputPartitions().map {
          case p: graft.connector.GraftKvInputPartition =>
            if (deep) p else p.copy(partitionDeepDims = Nil)
          case p => p
        }
        val rf = scan.createReaderFactory()
        var decoded = 0L
        var matched = 0L
        val t0 = System.nanoTime()
        parts.foreach { p =>
          val rdr = rf.createReader(p)
            .asInstanceOf[graft.connector.GraftKvPartitionReader]
          while (rdr.next()) {
            val r = rdr.get()
            if (r.getLong(2) >= 1000L && r.getLong(2) <= 1099L) matched += 1
          }
          decoded += rdr.decodedCount
          rdr.close()
        }
        ((System.nanoTime() - t0) / 1e9, decoded, matched)
      }
      // warm BOTH arms before timing: the deep walk touches only the
      // qualified k3 windows, so a deep-only warmup would leave the
      // lead-only arm paying cold IO for the full qualified k1 blocks
      // and bias the reported speedup upward
      walk(deep = false)
      walk(deep = true)
      val (leadSec, leadDecoded, leadMatched) = walk(deep = false)
      val (deepSec, deepDecoded, deepMatched) = walk(deep = true)
      require(deepMatched == leadMatched,
        s"skip-scan changed the answer: $deepMatched vs $leadMatched")
      skipscanSpeedup = leadSec / math.max(deepSec, 1e-9)
      s""","skipscan":{"matched":$deepMatched,"lead_only_decoded":$leadDecoded,"deep_decoded":$deepDecoded,"lead_only_sec":${fmt(leadSec)},"deep_sec":${fmt(deepSec)},"speedup":${fmt(skipscanSpeedup)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] skipscan failed: ${e.getMessage}")
      ""
    }

    // z-order scale probe: a 1024-segment z-clustered tiling of a
    // 1024×1024 dim grid (each segment one contiguous z-interval — what
    // the range-shuffled bulk load produces) planned against a 32×32
    // box (0.1% of the area). Segments touched is the scale claim: at
    // 100 TB the same geometry holds, so a small box reads a small,
    // size-independent fraction of the table.
    val zScaleJson = try {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val nSegs = 1024
      val dir = fixtureDir("zscale")
      val schema = StructType(Seq(
        StructField("_z", LongType, nullable = false),
        StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false)))
      val keys = Seq("_z", "a", "b")
      // grid codes ARE the values (minCode = code(0), shift 0)
      val zdims = Seq(
        graft.codec.ZDim("a", graft.codec.ZOrder.codeLong(0L), 0),
        graft.codec.ZDim("b", graft.codec.ZOrder.codeLong(0L), 0))
      if (!fixtureExists(dir)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val codec = graft.store.RowCodec(schema, keys)
        val total = 1024L * 1024L
        val span = total / nSegs // one z-interval per segment
        def dimsOf(z: Long): (Long, Long) = {
          var a = 0L; var b = 0L
          var d = 0
          while (d < 10) { // 10 bits per dim cover 0..1023
            a = (a << 1) | ((z >>> (2 * (10 - d) - 1)) & 1L)
            b = (b << 1) | ((z >>> (2 * (10 - d) - 2)) & 1L)
            d += 1
          }
          (a, b)
        }
        val names = (0 until nSegs).map { i =>
          val name = f"segment-$i%05d-000000-zscale00"
          val w = new graft.store.SegmentFile.Writer(dir, name,
            cmp = codec.compareKeys, schemaJson = schema.json, gen = 1L)
          Seq(i * span, i * span + span - 1).foreach { z =>
            val (a, b) = dimsOf(z)
            val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](graft.codec.ZOrder.zValueScaled(
                Array(graft.codec.ZOrder.codeLong(a), graft.codec.ZOrder.codeLong(b)),
                zdims.map(_.minCode).toArray, zdims.map(_.shift).toArray), a, b))
            w.write(codec.encodeKey(row), codec.encodeValue(row))
          }
          w.close()
          s"$name.kv"
        }
        commitFixture(dir, graft.connector.KvTableMeta(schema, keys,
          graft.store.RowCodec.Binary, zdims), names)
      }
      // deliberately UNALIGNED to the quadtree cells — the worst-case
      // cover shape, so `touched` is an honest upper bound
      val box = Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("a", 500L),
        org.apache.spark.sql.sources.LessThanOrEqual("a", 531L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("b", 300L),
        org.apache.spark.sql.sources.LessThanOrEqual("b", 331L))
      val m = graft.connector.GraftKvMeta.read(dir).get
      val t0 = System.nanoTime()
      val touched = new graft.connector.GraftKvScan(dir, m.schema, m.keys,
        m.schema, box, -1).planInputPartitions().length
      val sec = (System.nanoTime() - t0) / 1e9
      s""","zscale":{"segments":$nSegs,"box_area_pct":0.1,"touched":$touched,"plan_sec":${fmt(sec)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] zscale failed: ${e.getMessage}")
      ""
    }

    // dedup-scale diagnostics: candidate-pair growth is the one
    // superlinear risk in the near-dup chain (pairs grow with duplicate
    // clique size SQUARED), so report docs / distinct texts / rep-level
    // LSH candidates / verified pairs per corpus — the pairs-per-doc
    // trend across SFs must stay ~flat now that exact duplicates
    // collapse before LSH.
    def dedupStats(dir: String): String = try {
      import org.apache.spark.sql.functions.{col, md5}
      val docs = Tables.table(spark, dir, "documents")
      val nDocs = docs.count()
      val nDistinct = docs.select(md5(col("text"))).distinct().count()
      val reps = graft.pipeline.Dedup.dropExactDuplicates(docs)
      val cands = graft.pipeline.Dedup.lshCandidatePairs(
        graft.pipeline.Dedup.minhashSignatures(reps)).count()
      val verified = graft.pipeline.Dedup.minhashNearDuplicates(docs).count()
      s"""{"docs":$nDocs,"distinct_texts":$nDistinct,"rep_candidates":$cands,"verified_pairs":$verified}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] dedup stats $dir failed: ${e.getMessage}")
      "{}"
    }
    val dedupJson = {
      val primary = dedupStats(sfDir)
      val atSf1 = sys.env.get("SPARK_GRAFT_SF1_DIR")
        .orElse(Option(s"$repoRoot/tmp/sf1")
          .filter(p => new java.io.File(p, "documents.parquet").exists()))
        .map(d => s""","sf1":${dedupStats(d)}""").getOrElse("")
      // decontamination at the primary SF: one batch pass (train =
      // doc_id%20≠0 vs the %20=0 benchmark slice), wall + survivors
      val decontam = try {
        var survivors = 0L
        val sec = median3 { () =>
          val t0 = System.nanoTime()
          survivors = queries("dc2_decontaminate")(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        s""","decontam_sec":${fmt(sec)},"decontam_survivors":$survivors"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] decontam failed: ${e.getMessage}")
        ""
      }
      // dd10's full FastSS sweep, timed HERE since round 14 (it left
      // the headline — one 26%-of-total row with 5× contention spread
      // was the whole basket's volatility). Same query, so
      // dd10_sec remains round-over-round comparable with the old
      // headline dd10 row.
      val dd10 = try {
        val sec = median3 { () =>
          val t0 = System.nanoTime()
          queries("dd10_editdistance_pairs")(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        s""","dd10_sec":${fmt(sec)}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dd10 detail row failed: ${e.getMessage}")
        ""
      }
      // next-decade probes (round-12): steady-state seconds for the two
      // round-11 rewrites on their worst-case shapes — the ~1M-token
      // 90%-duplicated doc (substring rebuild must stay O(len+kills))
      // and the 100×-duplicated corpus (fuzzy blocking must stay on
      // distinct strings; the 200M-pair output IS the answer). A
      // quadratic regression shows up here as an order of magnitude,
      // not a margin.
      val stress = try {
        val (subSec, removed) = graft.tools.DedupScaleProbe.substringStress(spark)
        val (fzSec, pairs) = graft.tools.DedupScaleProbe.fuzzyStress(spark)
        s""","substring_1m_sec":${fmt(subSec)},"substring_1m_removed":$removed""" +
          s""","fuzzy_100x_sec":${fmt(fzSec)},"fuzzy_100x_pairs":$pairs"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dedup stress probes failed: ${e.getMessage}")
        ""
      }
      // incremental-ingest probe (round-13): persist a MinHash index of
      // the corpus minus a 1/16 slice, then dedup the slice against it
      // — the 100 TB ingest path. One-shot full-pipeline wall reported
      // beside it: the probe must cost a small fraction of re-running
      // near-dup over everything, and its growth across SFs is the
      // compact (id, sig) band scan — never a corpus text re-shingle.
      val incremental = try {
        import org.apache.spark.sql.functions.col
        def rmTree(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
          f.delete(): Unit
        }
        def incProbe(dir: String, tag: String): String = {
          val idx = s"$repoRoot/tmp/benchmh_$tag"
          rmTree(new java.io.File(idx))
          val docs = Tables.table(spark, dir, "documents")
          val t0 = System.nanoTime()
          graft.pipeline.Dedup.buildMinhashIndex(
            docs.where(col("doc_id") % 16 =!= 0), idx)
          val buildSec = (System.nanoTime() - t0) / 1e9
          var pairs = 0L
          // a real ingest probes each batch exactly once, COLD: release
          // the probe's cached intermediates between reps so the median
          // measures that, never a warm-cache replay
          def probeOnce(): Double = {
            val t = System.nanoTime()
            val (df, cached) = graft.pipeline.Dedup
              .dedupAgainstIndexWithHandles(
                docs.where(col("doc_id") % 16 === 0), idx)
            pairs = df.count()
            val sec = (System.nanoTime() - t) / 1e9
            cached.foreach(_.unpersist(true))
            sec
          }
          val probeSec = median3(probeOnce _)
          // long-ingest fragmentation → compaction (round-14, verdict
          // item 2): a streaming ingest leaves one small file set per
          // appended microbatch and probe latency follows the file
          // count. 24 single-doc appends fragment the index, the probe
          // re-measures over the fragmented layout, compaction rewrites
          // it into sorted runs, and the probe must come back to ~the
          // un-fragmented cost. File counts prove the mechanism.
          val compaction = try {
            import spark.implicits._
            (0 until 24).foreach { i =>
              graft.pipeline.Dedup.appendToMinhashIndex(Seq(
                (9000000L + i,
                  s"synthetic ingest microbatch $i with filler words")
              ).toDF("doc_id", "text"), idx)
            }
            val fragSec = median3(probeOnce _)
            val (fb, fa) =
              graft.pipeline.Dedup.compactMinhashIndex(spark, idx)
            val compSec = median3(probeOnce _)
            s""","files_fragmented":$fb,"files_compacted":$fa""" +
              s""","probe_fragmented_sec":${fmt(fragSec)}""" +
              s""","probe_compacted_sec":${fmt(compSec)}"""
          } catch { case e: Throwable =>
            System.err.println(
              s"[bench] minhash compaction probe failed: ${e.getMessage}")
            ""
          }
          // drop every intermediate dedupStats persisted over this
          // corpus, or the "one-shot" comparator reads warm caches and
          // under-reports what a real re-run costs (round-13 first cut:
          // sf1 one-shot "0.73 s" vs a 1.6 s probe, purely cache reuse).
          // Tag-unique label: the sections diagnostics object must not
          // carry duplicate keys (sf1 would shadow the primary row).
          sweepCaches(s"dedup-incremental-$tag")
          val t1 = System.nanoTime()
          val oneShot =
            graft.pipeline.Dedup.minhashNearDuplicates(docs).count()
          val oneShotSec = (System.nanoTime() - t1) / 1e9
          rmTree(new java.io.File(idx))
          s"""{"index_build_sec":${fmt(buildSec)},"probe_sec":${fmt(probeSec)},""" +
            s""""probe_pairs":$pairs,"oneshot_sec":${fmt(oneShotSec)},""" +
            s""""oneshot_pairs":$oneShot$compaction}"""
        }
        val p = incProbe(sfDir, "p")
        val s1 = sys.env.get("SPARK_GRAFT_SF1_DIR")
          .orElse(Option(s"$repoRoot/tmp/sf1")
            .filter(d => new java.io.File(d, "documents.parquet").exists()))
          .map(d => s""","sf1":${incProbe(d, "s1")}""").getOrElse("")
        s""","incremental":{"primary":$p$s1}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] incremental dedup probe failed: ${e.getMessage}")
        ""
      }
      s""","dedup":{"primary":$primary$atSf1$decontam$dd10$stress$incremental}"""
    }
    sweepCaches("dedup-stats")

    // ANN scale probes (round-13, verdict item 7): the dedup chain has
    // next-decade probes; ANN gets the same treatment. Full index
    // lifecycle (build → probe → 1% delete → probe → rebuild) on the
    // primary corpus AND the 10× replica. The scale claims the rows
    // check: PROBE stays ~flat at 10× rows (nProbe bounded cells, each
    // broadcast-anti-joined against a bounded tombstone set) while
    // build/rebuild grow ~linearly — a super-linear probe row here is
    // the IVF story breaking.
    def annLifecycle(dir: String, tag: String): String = {
      import org.apache.spark.sql.functions.col
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete(): Unit
      }
      val idx = s"$repoRoot/tmp/benchann_$tag"
      rmTree(new java.io.File(idx))
      val emb = Tables.table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).persist()
      try {
        val n = emb.count() // also materializes the persist
        val q = emb.select("embedding").head().getSeq[Float](0)
        val dim = q.length
        val t0 = System.nanoTime()
        graft.pipeline.AnnIndex.build(emb, idx, dim = dim,
          nPlanes = 16, nCentroids = 64)
        val buildSec = (System.nanoTime() - t0) / 1e9
        def probeOnce(): Double = {
          val t = System.nanoTime()
          val k = graft.pipeline.AnnIndex
            .ivfTopK(spark, idx, q, k = 10, nProbe = 8).count()
          require(k > 0, "ann probe returned nothing")
          (System.nanoTime() - t) / 1e9
        }
        probeOnce() // codegen warm
        val probeSec = median3(probeOnce _)
        // batch k-NN join: a FIXED 32-query batch (not a corpus
        // fraction — scaling |Q| with the corpus would square the row
        // and measure the workload, not the operator). Cost must track
        // probed-cell size: ~linear at 10× vectors.
        val knnQueries = emb.where(col("vec_id") < 32)
        val knnSec = median3 { () =>
          val t = System.nanoTime()
          val c = graft.pipeline.AnnIndex
            .knnJoin(spark, idx, knnQueries, k = 10, nProbe = 8).count()
          require(c > 0, "knn join returned nothing")
          (System.nanoTime() - t) / 1e9
        }
        // batch k-NN join at |Q| = corpus (round-14, verdict item 6):
        // the hard-negative-mining shape — every vector queries the
        // index. Per-query probe-cell selection is column algebra (no
        // driver round-trip) and the pair space is cell-local
        // (|Q| × nProbe × |N|/C — linear in |Q| for a FIXED index),
        // so against one index the full-|Q| row must land ~10× the
        // tenth-|Q| row; superlinear THERE is the |Q|×|N| explosion
        // the scaffold exists to prevent. (Across corpus sizes the
        // pair space also grows with cell size |N|/C — hold it by
        // scaling nCentroids with the corpus, as a deployment would.)
        var knnSelfRows = 0L
        val knnSelfTenthSec = median3 { () =>
          val t = System.nanoTime()
          val c = graft.pipeline.AnnIndex
            .knnJoin(spark, idx, emb.where(col("vec_id") % 10 === 0),
              k = 5, nProbe = 2).count()
          require(c > 0, "knn self-join (tenth) returned nothing")
          (System.nanoTime() - t) / 1e9
        }
        val knnSelfSec = median3 { () =>
          val t = System.nanoTime()
          knnSelfRows = graft.pipeline.AnnIndex
            .knnJoin(spark, idx, emb, k = 5, nProbe = 2).count()
          require(knnSelfRows >= n, "knn self-join lost queries")
          (System.nanoTime() - t) / 1e9
        }
        val victims = emb.select("vec_id").where(col("vec_id") % 100 === 7)
          .collect().map(_.getLong(0)).toSeq
        val t1 = System.nanoTime()
        graft.pipeline.AnnIndex.deleteIds(spark, idx, victims)
        val deleteSec = (System.nanoTime() - t1) / 1e9
        val probeDelSec = median3(probeOnce _)
        val t2 = System.nanoTime()
        graft.pipeline.AnnIndex.rebuildInPlace(spark, idx)
        val rebuildSec = (System.nanoTime() - t2) / 1e9
        // long-ingest fragmentation → compaction (round-14, the ANN
        // counterpart of the minhash probe above): 8 appended
        // microbatches of FRESH ids over the rebuilt index leave ~8
        // file sets per touched cell; probe latency follows the file
        // count, compactAnnIndex rewrites to ~1 file per cell, and the
        // post-compaction probe must return to the clean-index band.
        // Primary corpus only — the 10× replica re-measures the same
        // code path for no extra signal.
        val compaction = if (tag != "p") "" else try {
          (0 until 8).foreach { i =>
            graft.pipeline.AnnIndex.append(
              emb.where(col("vec_id") % 8 === i)
                .withColumn("vec_id",
                  col("vec_id") + org.apache.spark.sql.functions.lit(1000000000L)),
              idx)
          }
          val probeFragSec = median3(probeOnce _)
          val tc = System.nanoTime()
          val (fb, fa) = graft.pipeline.AnnIndex.compactAnnIndex(spark, idx)
          val compactSec = (System.nanoTime() - tc) / 1e9
          val probeCompSec = median3(probeOnce _)
          s""","files_fragmented":$fb,"files_compacted":$fa""" +
            s""","probe_fragmented_sec":${fmt(probeFragSec)}""" +
            s""","compact_sec":${fmt(compactSec)}""" +
            s""","probe_compacted_sec":${fmt(probeCompSec)}"""
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[bench] ann compaction probe failed: ${e.getMessage}")
            ""
        }
        rmTree(new java.io.File(idx))
        s"""{"vectors":$n,"build_sec":${fmt(buildSec)},"probe_sec":${fmt(probeSec)},""" +
          s""""knn_join_sec":${fmt(knnSec)},""" +
          s""""knn_join_self_sec":${fmt(knnSelfSec)},""" +
          s""""knn_join_self_tenth_sec":${fmt(knnSelfTenthSec)},""" +
          s""""knn_join_self_rows":$knnSelfRows,""" +
          s""""delete_sec":${fmt(deleteSec)},"probe_post_delete_sec":${fmt(probeDelSec)},""" +
          s""""rebuild_sec":${fmt(rebuildSec)}$compaction}"""
      } finally emb.unpersist()
    }
    val annJson = try {
      val primary = annLifecycle(sfDir, "p")
      val atSf1 = sys.env.get("SPARK_GRAFT_SF1_DIR")
        .orElse(Option(s"$repoRoot/tmp/sf1")
          .filter(p => new java.io.File(p, "embeddings.parquet").exists()))
        .map(d => s""","sf1":${annLifecycle(d, "s1")}""").getOrElse("")
      s""","ann":{"primary":$primary$atSf1}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ann lifecycle probes failed: ${e.getMessage}")
      ""
    }
    sweepCaches("ann")

    // streaming near-dup end-to-end (bounded stream of the primary-SF
    // corpus through the stateful LSH operator, AvailableNow): wall
    // seconds INCLUDE streaming-query startup/teardown — reported
    // separately from the batch headline, not summed into the total
    val streamingJson = try {
      var pairs = 0L
      val sec = median3 { () =>
        val t0 = System.nanoTime()
        pairs = queries("dd8_streaming_neardup")(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      s""","streaming":{"dd8_wall_sec":${fmt(sec)},"pairs":$pairs}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming dd8 failed: ${e.getMessage}")
      ""
    }

    // full TPC-H suite (own total so the headline stays round-comparable);
    // the three join-heaviest completions re-run on the sf1 corpus below
    // for direct 10× scaling evidence
    val tpchResults = timed(sfDir, tpchSuite)
    val tpchTotal = totalOf(tpchResults)
    // per-query prev-round deltas for the TPC-H section (the headline
    // set has them via prevRound(); the tpch numbers never reach the
    // compact BENCH_r{N} line, so they persist in a committed history
    // file instead — r9's regression had to be reconstructed from
    // spreads because only the section total carried across rounds)
    // the history file is APPEND-ONLY, one labeled JSON line per run —
    // the cross-round trend is its whole purpose (the r14 verdict
    // documented this writer destroying r13's line by overwriting).
    // The prev baseline is the LAST parseable line.
    val tpchHistPath = java.nio.file.Paths.get("BENCH_TPCH_HISTORY.json")
    val tpchPrev: Option[(String, Map[String, Double])] = try {
      import com.fasterxml.jackson.databind.ObjectMapper
      if (!java.nio.file.Files.exists(tpchHistPath)) None
      else {
        val om = new ObjectMapper()
        java.nio.file.Files.readString(tpchHistPath).linesIterator
          .map(_.trim).filter(_.nonEmpty).flatMap { line =>
            try {
              val node = om.readTree(line)
              val q = node.get("queries")
              val it = q.fields(); val b = Map.newBuilder[String, Double]
              while (it.hasNext) {
                val e = it.next(); b += e.getKey -> e.getValue.asDouble()
              }
              Iterator.single((node.get("label").asText(), b.result()))
            } catch { case _: Exception => Iterator.empty }
          }.toSeq.lastOption
      }
    } catch { case _: Exception => None }
    val tpchDeltaJson = tpchPrev.map { case (label, pq) =>
      val ds = tpchResults.collect {
        case t if t.med >= 0 && pq.get(t.name).exists(_ >= 0) =>
          t.name -> (t.med - pq(t.name))
      }
      s""","prev":"$label","prev_delta":${obj(ds)}"""
    }.getOrElse("")
    val tpchJson =
      s""","tpch":{"total":${fmt(tpchTotal)},"queries":${objT(tpchResults)}$tpchDeltaJson}"""
    try {
      val label = prev.map { case (r, _) => s"r${r + 1}" }.getOrElse("r?") +
        "@" + java.net.InetAddress.getLocalHost.getHostName
      java.nio.file.Files.writeString(tpchHistPath,
        s"""{"label":"$label","queries":${objT(tpchResults)}}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Exception =>
      System.err.println(s"[bench] tpch history write failed: ${e.getMessage}")
    }
    sweepCaches("tpch")

    // bulk load (BASELINE.md: "bulk load sf0.01 lineitem into KV store
    // < 60 s; output sorted-run files"): the full O8 path — range
    // shuffle + per-partition sort + segment write — timed cold into a
    // scratch table, with the sortedness claim CHECKED (overlap depth 1
    // = fully disjoint sorted runs), not assumed. One rep: a bulk load
    // is a cold-path operation by nature, and the number's job is the
    // baseline bound, not micro-comparison.
    var bulkloadSec = -1.0
    val bulkloadJson = try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      val srcDir = "/root/testdata/sf0.01"
      val li = Tables.table(spark, srcDir, "lineitem")
      val orderCols = li.columns
        .filterNot(c => c == "l_orderkey" || c == "l_linenumber").map(col).toSeq
      // (l_orderkey, l_linenumber) is not unique in the corpus: the
      // uniquifying rank makes Put semantics store the multiset (same
      // keying as the kv TPC-H fixtures)
      val keyed = li.withColumn("l_uid",
        row_number().over(Window.partitionBy("l_orderkey", "l_linenumber")
          .orderBy(orderCols: _*)))
      val dir = s"$repoRoot/tmp/benchload"
      graft.connector.KvCommands.dropTable(dir)
      val t0 = System.nanoTime()
      graft.connector.KvCommands.createTable(keyed, dir,
        Seq("l_orderkey", "l_linenumber", "l_uid"))
      bulkloadSec = (System.nanoTime() - t0) / 1e9
      val rows = graft.store.SegmentFile.listSegments(dir).map(_.count).sum
      val depth = graft.connector.KvCommands.overlapDepth(dir)
      require(depth <= 1, s"bulk load produced overlapping segments (depth $depth)")
      graft.connector.KvCommands.dropTable(dir)
      s""","bulkload":{"sec":${fmt(bulkloadSec)},"rows":$rows,"rows_per_sec":${fmt(rows / bulkloadSec)},"overlap_depth":$depth}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bulkload failed: ${e.getMessage}")
      ""
    }

    // storage section: segment block compression (round 10). Write the
    // text-heavy documents corpus plain and zstd, report the byte ratio
    // and a full-scan aggregate on each — the 100-TB claim is that scan
    // IO shrinks ~ratio while CPU stays close; both numbers land in the
    // artifact so that claim is checked every round, not asserted once.
    val storageJson = try {
      import org.apache.spark.sql.functions.{col, length, sum}
      val srcDir = "/root/testdata/sf0.01"
      val docs = Tables.table(spark, srcDir, "documents")
      def write(dir: String, compress: Option[String]): Long = {
        graft.connector.KvCommands.dropTable(dir)
        graft.connector.KvCommands.createTable(docs, dir, Seq("doc_id"),
          compress = compress)
        graft.store.SegmentFile.listSegments(dir).map(_.sizeBytes).sum
      }
      def scanSec(dir: String): Double = {
        val t0 = System.nanoTime()
        graft.connector.KvCommands.table(spark, dir)
          .agg(sum(length(col("text")))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val plainDir = s"$repoRoot/tmp/benchstore_plain"
      val zstdDir = s"$repoRoot/tmp/benchstore_zstd"
      val plainBytes = write(plainDir, Some("none"))
      val zstdBytes = write(zstdDir, Some("zstd"))
      val plainSec = scanSec(plainDir)
      val zstdSec = scanSec(zstdDir)
      graft.connector.KvCommands.dropTable(plainDir)
      graft.connector.KvCommands.dropTable(zstdDir)
      s""","storage":{"plain_bytes":$plainBytes,"zstd_bytes":$zstdBytes,"ratio":${fmt(plainBytes.toDouble / zstdBytes)},"plain_scan_sec":${fmt(plainSec)},"zstd_scan_sec":${fmt(zstdSec)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] storage failed: ${e.getMessage}")
      ""
    }

    // scale-stress section: a 10× replicated corpus (tools/make_sf1.py →
    // tmp/sf1, or SPARK_GRAFT_SF1_DIR). Same headline set + its own
    // warmups, so per-query scaling vs the primary SF is directly
    // readable from one bench line. The corpus SELF-BUILDS when absent
    // (round-11 fix: BENCH_r10 silently dropped the whole section over
    // a missing temp dir — the scale-stress evidence must not be
    // droppable); build time is logged, never in the measured totals.
    val sf1Dir = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .orElse {
        val p = s"$repoRoot/tmp/sf1"
        def mtime(f: java.io.File): Long =
          if (f.isDirectory)
            (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
              .map(mtime).toSeq).max
          else f.lastModified()
        val complete = Tables.all.forall(t =>
          new java.io.File(p, s"$t.parquet").exists())
        // stale = the driver regenerated the source corpus since the
        // replication was built (keys/encodings drift between rounds)
        val stale = complete && {
          val built = Tables.all.map(t =>
            new java.io.File(p, s"$t.parquet").lastModified()).min
          Tables.all.exists(t =>
            mtime(new java.io.File(sfDir, s"$t.parquet")) > built)
        }
        if (!complete || stale) {
          try buildSf1(spark, sfDir, p)
          catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 build failed: ${e.getMessage}")
          }
        }
        Option(p).filter(_ => Tables.all.forall(t =>
          new java.io.File(p, s"$t.parquet").exists()))
      }
    var sf1Total = -1.0
    var tpchSf1Total = -1.0
    val sf1Json = sf1Dir.map { dir =>
      Seq("s3_count_star", "kv2_point_lookup", "kv25_zorder_box",
        "kv26_metadata_sum", "ann2_lsh_topk", "dd1_exact_dedup",
        "dd3_minhash_lsh_neardup").foreach { w =>
        try queries(w)(spark, dir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] sf1 warmup $w failed: ${e.getMessage}")
        }
      }
      val rs = timed(dir)
      sf1Total = totalOf(rs)
      // the FULL TPC-H suite at 10× data (round-15, verdict item 6):
      // per-query ratio vs this run's own sf0.1 tpch section is the
      // linearity evidence — ~≤10 at 10× data means the plan scales in
      // data volume at fixed parallelism; >~30 (3× super-linear) marks
      // a plan that would not survive the next 10×.
      val hs = timed(dir, tpchSuite)
      tpchSf1Total = totalOf(hs)
      val ratios = hs.flatMap { t =>
        tpchResults.find(_.name == t.name).collect {
          case p if p.med > 0 && t.med > 0 => t.name -> t.med / p.med
        }
      }
      sweepCaches("sf1")
      s""","sf1":{"dir":"$dir","total":${fmt(sf1Total)},"queries":${objT(rs)}},"tpch_sf1":{"total":${fmt(tpchSf1Total)},"queries":${objT(hs)},"ratio_vs_sf01":${obj(ratios)}}"""
    }.getOrElse("")

    // closing calibration bracket: the opening numbers only certify the
    // run's FIRST minute — round 8's dd3 mystery was load arriving
    // mid-run, invisible to a start-only probe. A big start→end drift
    // (either flavor) marks the whole artifact as load-distorted.
    val calibrationEnd = median3(calibrateOnce _)
    val calibrationMtEnd = median3(calibrateMtOnce _)

    // full breakdown → detail file (per-query medians AND min/max spread)
    val detailPath = "tmp/bench_detail.json"
    val spreadJson = {
      def spread(rs: Seq[Timing]): String = rs.map { t =>
        "\"" + t.name + "\":[" + fmt(t.min) + "," + fmt(t.max) + "]"
      }.mkString("{", ",", "}")
      // which queries the adaptive protocol actually gave 5 reps — the
      // artifact must describe its own methodology per query, not claim
      // "reps":3 for exactly the rows the feature re-measured. Kept as
      // per-SECTION objects: four TPC-H names are timed in BOTH the
      // headline and tpch sections, and one flat map would emit
      // duplicate keys / misattribute which section's median used 5
      val repsUsed = Seq("headline" -> results, "tpch" -> tpchResults)
        .map { case (sec, rs) =>
          "\"" + sec + "\":" + rs.filter(_.reps > 3)
            .map(t => "\"" + t.name + "\":" + t.reps)
            .mkString("{", ",", "}")
        }.mkString("{", ",", "}")
      s""","spread":${spread(results)},"tpch_spread":${spread(tpchResults)}""" +
        s""","reps_used":$repsUsed"""
    }
    val sectionsJson =
      s""","sections":${sectionDiag.result().mkString("{", ",", "}")}"""
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":3,"reps_max":${(results ++ tpchResults).map(_.reps).max},"calibration_sec":${fmt(calibration)},"calibration_mt_sec":${fmt(calibrationMt)},"calibration_end_sec":${fmt(calibrationEnd)},"calibration_mt_end_sec":${fmt(calibrationMtEnd)},"queries":${objT(results)},"sf":"$sfDir"$prevDetail$spreadJson$plan10kJson$plan100kJson$skipscanJson$zScaleJson$dedupJson$annJson$tpchJson$bulkloadJson$storageJson$streamingJson$sf1Json$sectionsJson}"""
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("tmp"))
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    // compact driver line: headline medians + section totals only, well
    // under the driver's ~2 KB tail window
    val sf1Line = (if (sf1Total >= 0) s""","sf1_total":${fmt(sf1Total)}""" else "") +
      (if (tpchSf1Total >= 0) s""","tpch_sf1_total":${fmt(tpchSf1Total)}""" else "")
    val bulkLine = if (bulkloadSec >= 0) s""","bulkload_sec":${fmt(bulkloadSec)}""" else ""
    // spread promotion (round-12): the driver line itself reports run
    // stability — the worst max/min ratio across the headline plus the
    // individual [min,max] of any query whose reps disagree by >2× AND
    // >0.3 s (capped at 4 entries: the line must stay inside the
    // driver's ~2 KB tail window; the full per-query spread map is in
    // the detail file). An empty "unstable" object IS the claim that
    // every headline median is reproducible within 2×.
    val spreadLine = {
      val ratios = results.filter(t => t.med >= 0 && t.min > 0)
        .map(t => t -> t.max / t.min)
      val worst = ratios.map(_._2).maxOption.getOrElse(1.0)
      val unstable = ratios
        .filter { case (t, r) => r > 2.0 && t.max - t.min > 0.3 }
        .sortBy { case (_, r) => -r }.take(4)
        .map { case (t, _) =>
          "\"" + t.name + "\":[" + fmt(t.min) + "," + fmt(t.max) + "]" }
        .mkString("{", ",", "}")
      s""","spread_max_ratio":${fmt(worst)},"unstable":$unstable"""
    }
    // worst section-boundary contention vs the run-start baseline: >1
    // means load arrived by that section — the number that attributes a
    // mid-run squeeze to the section it actually hit (round-12's sf1
    // regression was exactly this, reconstructed by hand then)
    val calWorstLine = {
      val cals = sectionCal.result()
      if (cals.isEmpty || calibrationMt <= 0) ""
      else {
        val (name, _, mt) = cals.maxBy(_._3)
        s""","cal_section_worst":"$name","cal_section_worst_ratio":${fmt(mt / calibrationMt)}"""
      }
    }
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":3,"reps_max":${(results ++ tpchResults).map(_.reps).max},"calibration_sec":${fmt(calibration)},"calibration_mt_sec":${fmt(calibrationMt)},"calibration_mt_end_sec":${fmt(calibrationMtEnd)}$calWorstLine,"queries":${objT(results)},"sf":"$sfDir"$prevLine$spreadLine,"tpch_total":${fmt(tpchTotal)}$sf1Line$bulkLine,"plan10k_cold":${fmt(plan10kCold)},"plan10k_warm":${fmt(plan10kWarm)},"plan100k_cold":${fmt(plan100kCold)},"plan100k_warm":${fmt(plan100kWarm)},"detail":"$detailPath"}"""
    // stop FIRST so executor-shutdown warnings cannot land after the
    // line inside the driver's tail capture; the line is the process's
    // final stdout
    spark.stop()
    println(line)
  }
}
