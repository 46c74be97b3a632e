package graft.sql

import graft.TestSpark
import graft.connector.KvCommands
import java.nio.file.Files
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-partition kv reads collect on the driver without a Spark job and
  * return exactly what the job would; wider scans still run a job; the
  * scan's metrics and the pruning report stay populated. */
class KvDriverCollectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpTable(): String =
    Files.createTempDirectory("graftkv_drivercollect").toString + "/t"

  private def rows(from: Long, until: Long, tag: String): DataFrame =
    spark.range(from, until).select(col("id").as("k"),
      concat(lit(tag), col("id").cast("string")).as("v"))

  /** Collects `df` and counts the jobs Spark started for it. */
  private def collectCountingJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val got = df.collect().toSeq
      GraftTestBus.drain(sc)
      (got, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def lookup(path: String, k: Long): DataFrame =
    KvCommands.table(spark, path).filter(col("k") === k)

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[KvDriverCollectExec]

  private def scanOf(df: DataFrame) =
    KvDriverCollect.scanOf(df.queryExecution.executedPlan.children.head).get

  /** A compacted table of many small disjoint segments, keys 0..1999. */
  private lazy val compacted: String = {
    val path = tmpTable()
    KvCommands.createTable(rows(0, 1000, "a"), path, Seq("k"), maxSegBytes = Some(2048L))
    KvCommands.append(rows(1000, 2000, "b"), path)
    KvCommands.compact(spark, path, maxSegBytes = Some(2048L))
    path
  }

  test("point lookup on a compacted table: one partition, no job, right row") {
    val df = lookup(compacted, 1234L)
    val (got, jobs) = collectCountingJobs(df)
    assert(got == Seq(Row(1234L, "b1234")))
    assert(jobs == 0, s"$jobs jobs for a one-partition lookup")
    assert(onDriver(df), df.queryExecution.executedPlan.toString)
    val scan = scanOf(df)
    assert(scan.supportsColumnar, "compacted table should read columnar")
    val Seq(rep) = KvCommands.pruningReport(df).collect().toSeq
    assert(rep.getAs[Long]("partitions_static") == 1L)
    assert(rep.getAs[Long]("segments_read") == 1L)
    assert(rep.getAs[Long]("segments_live") > 1L)
  }

  test("point lookups over overlapping appends: last write wins, tombstones " +
      "hide keys, no job") {
    val path = tmpTable()
    KvCommands.createTable(rows(0, 100, "a"), path, Seq("k"))
    // every member starts at key 0, so the overlap component is one
    // merge shard and each lookup plans exactly one partition
    KvCommands.append(rows(0, 1, "b").union(rows(45, 46, "b")), path)
    KvCommands.delete(spark, path, col("k").isin(0L, 55L))
    for ((k, want) <- Seq(45L -> Seq(Row(45L, "b45")), 55L -> Nil, 0L -> Nil,
        10L -> Seq(Row(10L, "a10")))) {
      val df = lookup(path, k)
      val (got, jobs) = collectCountingJobs(df)
      assert(got == want, s"k=$k")
      assert(jobs == 0, s"k=$k: $jobs jobs")
      assert(!scanOf(df).supportsColumnar, s"k=$k: expected the merge reader")
    }
  }

  test("a lookup pruned to zero partitions answers empty without a job") {
    val df = lookup(compacted, 99999L)
    val (got, jobs) = collectCountingJobs(df)
    assert(got.isEmpty && jobs == 0, s"rows=$got jobs=$jobs")
    assert(onDriver(df))
    assert(KvCommands.pruningReport(df).head().getAs[Long]("partitions_static") == 0L)
  }

  test("a multi-partition scan still runs a job") {
    val df = KvCommands.table(spark, compacted).filter(col("k") < 1500L)
    val (got, jobs) = collectCountingJobs(df)
    assert(got.length == 1500)
    assert(jobs >= 1)
    assert(onDriver(df), "the wrapper stays and delegates to the job")
    assert(KvCommands.pruningReport(df).head().getAs[Long]("partitions_static") > 1L)
  }

  test("driver-side reads populate the scan's metrics") {
    val df = lookup(compacted, 777L)
    val (got, jobs) = collectCountingJobs(df)
    assert(got.length == 1 && jobs == 0)
    val scan = scanOf(df)
    assert(scan.metrics("numOutputRows").value == 1L)
    val decoded = scan.metrics("recordsDecoded").value
    assert(decoded >= 1L && decoded <= 2048L, s"recordsDecoded=$decoded")
    assert(scan.metrics.contains("gapSeeks"))
  }

  test("a reader error still fails the driver-side read") {
    val path = tmpTable()
    KvCommands.createTable(rows(0, 500, "a"), path, Seq("k"))
    val seg = new java.io.File(path).listFiles().filter(_.getName.endsWith(".kv")).head
    val bytes = Files.readAllBytes(seg.toPath)
    Files.write(seg.toPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val df = lookup(path, 400L)
    assert(onDriver(df))
    intercept[Exception](df.collect())
  }
}
