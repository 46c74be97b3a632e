package graft.perfbench

import graft.connector.KvCommands
import graft.store.SegmentFile
import org.apache.spark.sql.SparkSession

/** Turns a run's samples, records and spans into named metrics. */
object Report {

  type Metrics = Seq[(String, (Double, String))]

  /** Linear-interpolated quantile of `xs` at `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Fewest samples of an operation type for its p90 to be reported. */
  val MinP90Samples = 100

  def host(spark: SparkSession, a: PerfBench.Args, cores: Int): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> s"local[$cores]",
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> spark.version,
    "driver_heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "workload" -> a.workload,
    "workloads" -> Workload.Names,
    "seed" -> a.seed,
    "scale" -> a.scale,
    "seconds" -> a.seconds,
    "ops_limit" -> a.ops,
    "trace" -> a.trace,
    "client" -> "1 thread, closed loop")

  final case class EndToEnd(setupS: Double, opsPerS: Double, latencyMs: Double,
      diskBytesPerRow: Double, writeAmp: Double) {
    def headline: Metrics = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS, "ops/s"),
      "latency_ms" -> (latencyMs, "ms"),
      "disk_bytes_per_row" -> (diskBytesPerRow, "B/row"),
      "write_amp" -> (writeAmp, "ratio"))
  }

  def setupMedian(costs: Seq[SetupCost]): Double = median(costs.map(c => c.loadS + c.indexS))

  def endToEnd(sessionS: Double, costs: Seq[SetupCost], t: PerfBench.Tally,
      diskBytes: Long, w: Workload): EndToEnd = {
    val samples = t.byKind.values.flatten.filter(_ > 0).toSeq
    EndToEnd(
      setupS = sessionS + setupMedian(costs),
      opsPerS = ratio(t.ops, t.wallS),
      // geometric mean: every operation counts, and a kind's relative
      // change moves it alike whether that kind is fast or slow
      latencyMs = if (samples.isEmpty) 0.0 else math.exp(samples.map(math.log).sum / samples.size),
      diskBytesPerRow = ratio(diskBytes, w.liveRows),
      writeAmp = ratio(t.writtenBytes, w.userBytes))
  }

  /** Every end-to-end figure of the run, with sample counts. */
  def detail(e: EndToEnd, t: PerfBench.Tally, costs: Seq[SetupCost], w: Workload,
      diskBytes: Long): Seq[(String, Any)] = {
    val classes = Seq("lookup", "query", "write", "compact").flatMap { c =>
      t.byClass.get(c).toSeq.flatMap { xs =>
        Seq(s"${c}_p50_ms" -> median(xs.toSeq), s"${c}_n" -> xs.size) ++
          (if (xs.size >= MinP90Samples) Seq(s"${c}_p90_ms" -> quantile(xs.toSeq, 0.9)) else Nil)
      }
    }
    e.headline.map { case (k, (v, _)) => k -> v } ++ classes ++ Seq(
      "fail_ratio" -> ratio(t.failed, t.attempted),
      "kinds" -> t.byKind.map { case (k, xs) =>
        k -> Map("p50_ms" -> median(xs.toSeq), "n" -> xs.size) }.toMap,
      "setup_reps_s" -> costs.map(c => c.loadS + c.indexS),
      "disk_bytes" -> diskBytes,
      "live_rows" -> w.liveRows,
      "bytes_written" -> t.writtenBytes,
      "user_bytes" -> w.userBytes,
      "timed_ops" -> t.ops,
      "timed_wall_s" -> t.wallS,
      "op_checksum" -> t.checksum,
      "failures" -> t.failures.toSeq)
  }

  /** Live segments, deepest key overlap and retained manifest versions,
    * summed (depth: max) over the kv tables under `dirs`. Metadata only. */
  def storeShape(dirs: Seq[String]): (Long, Long, Long) = {
    def tables(f: java.io.File): Seq[String] =
      if (new java.io.File(f, "_graft_meta.json").exists()) Seq(f.getPath)
      else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(tables)
    val ts = dirs.flatMap(d => tables(new java.io.File(d)))
    (ts.map(SegmentFile.listSegments(_).size.toLong).sum,
      ts.map(KvCommands.overlapDepth(_).toLong).maxOption.getOrElse(0L),
      ts.map(SegmentFile.manifestVersions(_).size.toLong).sum)
  }

  val SpanNames: Seq[String] = Seq("op", "sql.parse", "sql.analyze", "sql.optimize",
    "sql.physical", "plan", "exec", "job")

  /** The per-layer metrics of a traced run, in BENCHMARK.json order. */
  def perLayer(rs: Seq[OpRecord], spans: Seq[Span], sessionS: Double,
      costs: Seq[SetupCost], t: PerfBench.Tally, untracedOpsPerS: Double,
      store: (Long, Long, Long)): Metrics = {
    def avg(sel: Seq[OpRecord])(f: OpRecord => Double) = mean(sel.map(f))
    val sql = rs.filter(_.sqlRead)
    val scan = rs.filter(_.scans > 0)
    val wr = rs.filter(_.write)
    def kindMedian(k: String) = median(rs.filter(_.kind == k).map(_.wallNs / 1e6))
    val loadS = median(costs.map(_.loadS))
    val selfByName = Span.selfTimes(spans).groupBy(_._1.name)
      .map { case (n, xs) => n -> xs.map(_._2).sum / 1e6 }
    val ms = "ms"
    val n = "count"
    Seq(
      "sql.parse_ms" -> (avg(sql)(_.parseNs / 1e6), ms),
      "sql.analyze_ms" -> (avg(sql)(_.analyzeNs / 1e6), ms),
      "sql.optimize_ms" -> (avg(sql)(_.optimizeNs / 1e6), ms),
      "sql.physical_ms" -> (avg(sql)(_.physicalNs / 1e6), ms),
      "sql.plan_share" -> (ratio(sql.map(_.planNs.toDouble).sum, sql.map(_.wallNs.toDouble).sum), "ratio"),
      "connector.segments_live" -> (avg(scan)(_.segmentsLive.toDouble), n),
      "connector.segments_read" -> (avg(scan)(_.segmentsRead.toDouble), n),
      "connector.partitions" -> (avg(scan)(_.partitions.toDouble), n),
      "pruning.segments_read_ratio" -> (ratio(scan.map(_.segmentsRead.toDouble).sum,
        scan.map(_.segmentsLive.toDouble).sum), "ratio"),
      "pruning.gap_seeks" -> (avg(scan)(_.gapSeeks.toDouble), n),
      "connector.records_decoded" -> (avg(scan)(_.recordsDecoded.toDouble), n),
      "connector.decoded_per_row" -> (ratio(scan.map(_.recordsDecoded.toDouble).sum,
        scan.map(_.resultRows.toDouble).sum), "ratio"),
      "connector.write_exec_ms" -> (avg(wr)(_.writeExecMs), ms),
      "connector.commit_tail_ms" -> (avg(wr)(_.commitTailMs), ms),
      "connector.files_added" -> (avg(wr)(_.files.added.toDouble), n),
      "connector.files_removed" -> (avg(wr)(_.files.removed.toDouble), n),
      "connector.bytes_written" -> (avg(wr)(_.files.bytesWritten.toDouble), "B"),
      "io.list_calls" -> (avg(rs)(_.listCalls.toDouble), n),
      "store.meta_opens" -> (avg(rs)(_.metaOpens.toDouble), n),
      "store.sketch_opens" -> (avg(rs)(_.sketchOpens.toDouble), n),
      "store.manifest_versions" -> (store._3.toDouble, n),
      "store.live_segments" -> (store._1.toDouble, n),
      "store.overlap_depth" -> (store._2.toDouble, n),
      "operators.jobs" -> (avg(rs)(_.exec.jobs.toDouble), n),
      "operators.stages" -> (avg(rs)(_.exec.stages.toDouble), n),
      "operators.tasks" -> (avg(rs)(_.exec.tasks.toDouble), n),
      "operators.task_run_ms" -> (avg(rs)(_.exec.taskRunMs.toDouble), ms),
      "operators.task_cpu_ms" -> (avg(rs)(_.exec.taskCpuMs), ms),
      "operators.task_wait_ms" -> (avg(rs)(_.exec.taskWaitMs.toDouble), ms),
      "operators.gc_ms" -> (avg(rs)(_.exec.gcMs.toDouble), ms),
      "operators.shuffle_write_bytes" -> (avg(rs)(_.exec.shuffleWriteBytes.toDouble), "B"),
      "operators.shuffle_read_bytes" -> (avg(rs)(_.exec.shuffleReadBytes.toDouble), "B"),
      "operators.spill_bytes" -> (avg(rs)(_.exec.spillBytes.toDouble), "B"),
      "operators.driver_ms" -> (avg(rs)(_.driverMs), ms),
      "pipeline.bm25_index_ms" -> (kindMedian("bm25"), ms),
      "pipeline.ivf_topk_ms" -> (kindMedian("ivf"), ms),
      "pipeline.knn_join_ms" -> (kindMedian("knn"), ms),
      "pipeline.minhash_dedup_ms" -> (kindMedian("minhash"), ms),
      "setup.session_s" -> (sessionS, "s"),
      "setup.load_s" -> (loadS, "s"),
      "setup.load_rows_per_s" -> (ratio(costs.last.rows, loadS), "rows/s"),
      "setup.index_build_s" -> (median(costs.map(_.indexS)), "s"),
      "trace.overhead_ratio" -> (ratio(untracedOpsPerS, ratio(t.ops, t.wallS)), "ratio")
    ) ++ SpanNames.map(s => s"span.$s.self_ms" -> (ratio(selfByName.getOrElse(s, 0.0), rs.size), ms))
  }

  /** Totals that must repeat exactly across two runs of one seed with
    * a fixed operation count. */
  def determinism(rs: Seq[OpRecord], t: PerfBench.Tally): Seq[(String, Any)] = Seq(
    "segments_read" -> rs.map(_.segmentsRead).sum,
    "records_decoded" -> rs.map(_.recordsDecoded).sum,
    "bytes_written" -> rs.map(_.files.bytesWritten).sum,
    "list_calls" -> rs.map(_.listCalls).sum,
    "op_checksum" -> t.checksum)
}
