package graft.perfbench

import graft.connector.{GraftKvScan, KvCommands}
import graft.io.SidecarFs
import graft.store.SegmentFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import scala.collection.mutable

/** Per-layer record of one operation in a traced run. */
final class OpRecord(val id: Int, val kind: String) {
  var wallNs = 0L
  var sqlRead = false
  var parseNs = 0L
  var analyzeNs = 0L
  var optimizeNs = 0L
  var physicalNs = 0L
  var scans = 0L
  var segmentsLive = 0L
  var segmentsRead = 0L
  var partitions = 0L
  var recordsDecoded = 0L
  var gapSeeks = 0L
  var resultRows = 0L
  var listCalls = 0L
  var metaOpens = 0L
  var sketchOpens = 0L
  var exec = new ExecCounts
  var driverMs = 0.0
  var write = false
  var writeExecMs = 0.0
  var commitTailMs = 0.0
  var files: FileDiff = FileDiff.Empty
  def planNs: Long = parseNs + analyzeNs + optimizeNs + physicalNs
}

/** Files created, rewritten and removed under a set of directories
  * between two listings. */
final case class FileDiff(added: Long, removed: Long, bytesWritten: Long)
object FileDiff {
  val Empty: FileDiff = FileDiff(0, 0, 0)

  /** path → (size, mtime) of every regular file under `dirs`. */
  def listing(dirs: Seq[String]): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile) out(f.getPath) = (f.length(), f.lastModified())
    dirs.foreach(d => walk(new java.io.File(d)))
    out.toMap
  }

  def between(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): FileDiff = {
    val added = after.keySet -- before.keySet
    val rewritten = after.filter { case (p, v) => before.get(p).exists(_ != v) }.keySet
    FileDiff(added.size, (before.keySet -- after.keySet).size,
      (added ++ rewritten).toSeq.map(after(_)._1).sum)
  }

  def bytes(dirs: Seq[String]): Long = listing(dirs).values.map(_._1).sum
}

/** The benchmark's single client. Untraced, each call is exactly what a
  * user would issue. Traced, the same calls are split into their
  * planning phases through public QueryExecution accessors, timed as
  * spans, and followed by reads of the scan metrics, the engine's I/O
  * counters and the listener's job/stage/task totals. */
final class Client(val spark: SparkSession, listener: Option[ExecListener]) {
  val traced: Boolean = listener.isDefined
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var rec: OpRecord = _
  private var nextSpan = 0
  private var rootSpan = -1
  private var opStartNs = 0L
  private var opStartMs = 0L
  private var counters0 = (0L, 0L, 0L)
  /** nanoTime − currentTimeMillis·1e6, to place listener job times on
    * the span clock. */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def allSpans: Seq[Span] = spans.toSeq

  private def counters: (Long, Long, Long) = (SidecarFs.listCalls.get(),
    SegmentFile.metaOpens.get(),
    SegmentFile.ndvSidecarOpens.get() + SegmentFile.qsSidecarOpens.get())

  /** Starts operation `r` (traced runs only). */
  def begin(r: OpRecord): Unit = {
    rec = r
    listener.foreach(_.reset())
    counters0 = counters
    rootSpan = nextSpan; nextSpan += 1
    opStartMs = System.currentTimeMillis()
    opStartNs = System.nanoTime()
  }

  /** Ends the current operation: closes its root span, attaches the
    * listener's jobs as spans, and fills the record's counters. */
  def end(): Unit = {
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    rec.wallNs = endNs - opStartNs
    val c1 = counters
    rec.listCalls = c1._1 - counters0._1
    rec.metaOpens = c1._2 - counters0._2
    rec.sketchOpens = c1._3 - counters0._3
    spans += Span(rec.id, rootSpan, -1, "op", opStartNs, endNs)
    listener.foreach { l =>
      org.apache.spark.sql.graftperf.drainListeners(spark.sparkContext)
      val ex = l.counts
      rec.exec = ex
      val jobs = ex.jobIntervals.map { case (s, e) =>
        (math.max(s, opStartMs), math.min(e, endMs)) }.filter(j => j._2 >= j._1)
      // a job belongs to the phase span that was open when it started
      // (listener times are whole milliseconds, hence the slack)
      jobs.foreach { case (s, e) =>
        val sNs = s * 1000000L + clockOffsetNs
        val parent = spans.reverseIterator.takeWhile(_.op == rec.id)
          .find(p => p.parent == rootSpan && p.startNs - 1000000L <= sNs && sNs <= p.endNs)
          .map(_.id).getOrElse(rootSpan)
        spans += Span(rec.id, newSpan(), parent, "job", sNs, e * 1000000L + clockOffsetNs)
      }
      val jobUnionMs = Span.union(jobs.toSeq)
      rec.driverMs = rec.wallNs / 1e6 - jobUnionMs
      if (rec.write) {
        rec.writeExecMs = jobs.map { case (s, e) => (e - s).toDouble }.sum
        rec.commitTailMs = jobs.map(_._2).maxOption
          .map(last => math.max(0L, endMs - last).toDouble).getOrElse(rec.wallNs / 1e6)
      }
    }
  }

  private def newSpan(): Int = { val id = nextSpan; nextSpan += 1; id }

  private def timed[A](name: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    if (traced) spans += Span(rec.id, newSpan(), rootSpan, name, t0, t1)
    (a, t1 - t0)
  }

  /** A SQL read. */
  def query(sql: String): Seq[Row] =
    if (!traced) spark.sql(sql).collect().toSeq
    else {
      rec.sqlRead = true
      val (plan, p) = timed("sql.parse")(spark.sessionState.sqlParser.parsePlan(sql))
      val (df, a) = timed("sql.analyze")(org.apache.spark.sql.graftperf.analyze(spark, plan))
      val (_, o) = timed("sql.optimize")(df.queryExecution.optimizedPlan)
      val (_, ph) = timed("sql.physical")(df.queryExecution.executedPlan)
      val (rows, _) = timed("exec")(df.collect().toSeq)
      rec.parseNs += p; rec.analyzeNs += a; rec.optimizeNs += o; rec.physicalNs += ph
      readScans(df, rows.size)
      rows
    }

  /** A DataFrame read through a library entry point. */
  def collect(build: => DataFrame): Seq[Row] =
    if (!traced) build.collect().toSeq
    else {
      val (df, _) = timed("plan")(build)
      val (rows, _) = timed("exec")(df.collect().toSeq)
      readScans(df, rows.size)
      rows
    }

  /** A SQL statement run for its effect (INSERT, DELETE, COMPACT);
    * returns no rows. */
  def command(sql: String): Seq[Row] = {
    if (!traced) spark.sql(sql)
    else {
      val (plan, p) = timed("sql.parse")(spark.sessionState.sqlParser.parsePlan(sql))
      rec.parseNs += p
      timed("exec")(org.apache.spark.sql.graftperf.analyze(spark, plan))
    }
    Nil
  }

  /** Pruning evidence and decode counts of every kv scan the executed
    * plan ran. Reused exchanges are leaves, so each scan counts once. */
  private def readScans(df: DataFrame, rows: Int): Unit = {
    rec.resultRows += rows
    def scans(p: SparkPlan): Seq[BatchScanExec] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case b: BatchScanExec if b.scan.isInstanceOf[GraftKvScan] => Seq(b)
        case _ => Nil
      }
      here ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    rec.scans += found.size
    found.foreach { b =>
      rec.recordsDecoded += b.metrics.get("recordsDecoded").map(_.value).getOrElse(0L)
      rec.gapSeeks += b.metrics.get("gapSeeks").map(_.value).getOrElse(0L)
    }
    if (found.nonEmpty) KvCommands.pruningReport(df).collect().foreach { r =>
      rec.segmentsLive += r.getAs[Long]("segments_live")
      rec.segmentsRead += r.getAs[Long]("segments_read")
      rec.partitions += Option(r.getAs[java.lang.Long]("partitions_runtime"))
        .map(_.longValue).getOrElse(r.getAs[Long]("partitions_static"))
    }
  }
}
