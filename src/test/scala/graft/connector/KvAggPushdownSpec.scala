package graft.connector

import graft.TestSpark
import graft.sql.{KvDriverCollect, KvDriverCollectExec}
import graft.store.SegmentFile
import java.nio.file.Files
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pushed COUNT/SUM/MIN/MAX finish inside the connector: one agg-scan
  * partition (covered segments folded from metadata, boundary segments
  * read), collected on the driver without a Spark job, answering exactly
  * what stock Spark answers over the same rows. */
class KvAggPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpTable(): String =
    Files.createTempDirectory("graftkv_aggpush").toString + "/t"

  /** Keys 0..1999 with int, long, narrow-decimal and double columns and
    * a long column `n` that is NULL on every 7th key. */
  private def source(n: Long = 2000L): DataFrame =
    spark.range(n).select(col("id").as("k"),
      (col("id") % 97).cast("int").as("i"),
      (col("id") * 3).as("l"),
      ((col("id") % 500) / 4).cast("decimal(12,2)").as("d"),
      ((col("id") % 11) / 100).cast("decimal(12,2)").as("e"),
      ((col("id") % 13) * 0.25).as("x"),
      ((col("id") % 3) * 0.5).as("y"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") - 1000).as("n"))

  /** The source table in many small key-disjoint segments. */
  private lazy val base: String = {
    val path = tmpTable()
    KvCommands.createTable(source(), path, Seq("k"), maxSegBytes = Some(1024L))
    path
  }

  private lazy val segs: Seq[SegmentFile.Meta] = SegmentFile.listSegments(base)

  /** The lead-key bounds of a table's segments, in key order. */
  private def boundsOf(path: String): Seq[(Long, Long)] = {
    val meta = GraftKvMeta.read(path).get
    val codec = graft.store.RowCodec(meta.schema, meta.keys, meta.encoding)
    SegmentFile.listSegments(path).map { m =>
      (codec.leadingKeyValue(m.minKey).asInstanceOf[Long],
        codec.leadingKeyValue(m.maxKey).asInstanceOf[Long])
    }.sortBy(_._1)
  }
  private def segBounds: Seq[(Long, Long)] = boundsOf(base)

  private def kv(path: String = base): Unit =
    KvCommands.table(spark, path).createOrReplaceTempView("kvt")
  private def src(df: DataFrame = source()): Unit =
    df.createOrReplaceTempView("srct")

  /** Runs `sql` (over `{T}`) on the kv table and, stock, on the source
    * rows; returns the kv DataFrame after checking equal answers. */
  private def same(sql: String, path: String = base,
      stock: DataFrame = source()): DataFrame = {
    kv(path); src(stock)
    val got = spark.sql(sql.replace("{T}", "kvt"))
    val want = spark.sql(sql.replace("{T}", "srct")).collect().toSeq
    assert(got.collect().toSeq == want, s"$sql\n${got.queryExecution.executedPlan}")
    got
  }

  private def pushed(df: DataFrame): Option[BatchScanExec] =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftKvAggScan] => b
    }

  private def jobsOf(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try { df.collect(); GraftTestBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(l)
  }

  /** One partition, no exchange or aggregate operator, read on the
    * driver without a job. */
  private def assertFolded(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val scan = pushed(df).getOrElse(fail(s"not pushed:\n$plan"))
    assert(scan.inputPartitions.length == 1, plan.toString)
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.toString)
    assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty, plan.toString)
    assert(plan.isInstanceOf[KvDriverCollectExec], plan.toString)
    assert(jobsOf(df) == 0, s"jobs ran for\n$plan")
  }

  private def where(lo: Long, hi: Long) = s"WHERE k BETWEEN $lo AND $hi"

  test("whole-table COUNT/MIN/MAX over 100+ segments is one driver-side fold") {
    assert(segs.length >= 100, s"${segs.length} segments")
    val df = same("SELECT count(*), min(k), max(k), count(i), min(l), max(d) FROM {T}")
    assertFolded(df)
    assert(pushed(df).get.scan.description().contains("boundary=0"))
  }

  test("key-range aggregates over one and two boundary segments run no job") {
    val (lo0, hi0) = segBounds(10)
    val (lo1, _) = segBounds(11)
    val aggs = "count(*), sum(l), sum(i), sum(d), sum(d * (1 - e)), " +
      "sum(x * (1 - y)), sum(l * 2 + i)"
    for ((lo, hi, nSegs) <- Seq((lo0 + 1, hi0 - 1, 1), (hi0 - 2, lo1 + 2, 2))) {
      val df = same(s"SELECT $aggs FROM {T} ${where(lo, hi)}")
      assertFolded(df)
      assert(pushed(df).get.scan.description().contains(s"boundary=$nSegs"),
        pushed(df).get.scan.description())
    }
  }

  test("covered segments answer from metadata beside boundary reads") {
    val (lo, _) = segBounds(20)
    val (_, hi) = segBounds(30)
    val df = same(s"SELECT count(*), sum(l), sum(d), min(i), max(l), count(n) " +
      s"FROM {T} ${where(lo + 3, hi - 3)}")
    assertFolded(df)
    val d = pushed(df).get.scan.description()
    assert(d.contains("covered=9") && d.contains("boundary=2"), d)
  }

  test("empty ranges and an empty table answer count 0 and NULL sums") {
    val q = "SELECT count(*), sum(l), sum(x * y), min(d), max(k) FROM {T}"
    for (w <- Seq(where(5000, 6000), "WHERE k < 0", where(10, 5)))
      assertFolded(same(s"$q $w"))
    val empty = tmpTable()
    KvCommands.createTable(source(0), empty, Seq("k"))
    assertFolded(same(q, empty, source(0)))
  }

  test("an IN list spanning three segments reads three boundary segments") {
    val ks = Seq(5, 40, 70).map(s => segBounds(s)._1 + 1)
    val df = same(s"SELECT count(*), sum(l), sum(d * e), min(n), max(x) " +
      s"FROM {T} WHERE k IN (${ks.mkString(",")})")
    assertFolded(df)
    assert(pushed(df).get.scan.description().contains("boundary=3"))
  }

  test("NULLs in a scanned column follow Spark's null semantics") {
    val (lo, hi) = segBounds(3)
    val df = same(s"SELECT count(n), sum(n), min(n), max(n), count(*) FROM {T} " +
      where(lo + 1, hi - 1))
    assertFolded(df)
    // a range of nothing but NULLs
    val nulls = same(s"SELECT count(n), sum(n), min(n) FROM {T} WHERE k IN (7, 14)")
    assert(pushed(nulls).isDefined)
    assert(nulls.collect().toSeq == Seq(Row(0L, null, null)))
  }

  test("MIN/MAX of strings hold across the boundary reader's batches") {
    // one large segment: the range reads several column-vector batches
    val path = tmpTable()
    val rows = spark.range(20000).select(col("id").as("k"),
      concat(lit("s"), lpad(((col("id") * 7919) % 20000).cast("string"), 5, "0")).as("s"))
    KvCommands.createTable(rows, path, Seq("k"))
    assert(SegmentFile.listSegments(path).length == 1)
    assertFolded(same("SELECT min(s), max(s), count(s) FROM {T} WHERE k BETWEEN 1 AND 19998",
      path, rows))
  }

  test("large boundary segments fold like Spark across many reader batches") {
    val path = tmpTable()
    val rows = source(400000L)
    KvCommands.createTable(rows, path, Seq("k"), maxSegBytes = Some(16L << 20))
    val segments = boundsOf(path)
    assert(segments.length >= 2)
    val (lo0, hi0) = segments(0)
    val (lo1, hi1) = segments(1)
    assert(hi0 - lo0 > 50000 && hi1 - lo1 > 50000, segments)
    val df = same("SELECT count(*), sum(l), sum(i), sum(d * (1 - e)), " +
      "sum(x * (1 - y)), min(n), max(n), count(n) FROM {T} " +
      where((lo0 + hi0) / 2, (lo1 + hi1) / 2), path, rows)
    assertFolded(df)
    assert(pushed(df).get.scan.description().contains("boundary=2"))
  }

  test("pushed outputs carry Spark's own types: no cast over the scan") {
    val (lo, hi) = segBounds(40)
    for (aggs <- Seq("count(*)", "sum(i)", "sum(l)", "sum(d)", "sum(d * (1 - e))",
        "sum(x)", "sum(x * (1 - y))", "min(d)", "max(x)", "min(n)", "count(n)")) {
      kv()
      val df = spark.sql(s"SELECT $aggs FROM kvt ${where(lo + 1, hi + 1)}")
      val projects = df.queryExecution.optimizedPlan.collect {
        case p @ Project(_, s: DataSourceV2ScanRelation)
            if s.scan.isInstanceOf[GraftKvAggScan] => p
      }
      assert(projects.length == 1, s"$aggs:\n${df.queryExecution.optimizedPlan}")
      assert(projects.head.projectList.forall(_.find(_.isInstanceOf[Cast]).isEmpty),
        s"$aggs:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("ANSI overflow raises Spark's error class; try_sum answers like Spark") {
    val path = tmpTable()
    val big = spark.range(200).select(col("id").as("k"),
      lit(Long.MaxValue / 4).as("b"))
    KvCommands.createTable(big, path, Seq("k"), maxSegBytes = Some(1024L))
    def errorClass(sql: String): Option[String] =
      try { spark.sql(sql).collect(); None }
      catch { case e: Throwable =>
        Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
        }
      }
    kv(path); src(big)
    val q = "SELECT sum(b) FROM {T} WHERE k BETWEEN 3 AND 12"
    assert(pushed(spark.sql(q.replace("{T}", "kvt"))).isDefined)
    val want = errorClass(q.replace("{T}", "srct"))
    assert(want.contains("ARITHMETIC_OVERFLOW"), want)
    assert(errorClass(q.replace("{T}", "kvt")) == want)
    // the same over two boundary segments, which are read concurrently
    val (lo1, _) = boundsOf(path)(1)
    val q2 = s"SELECT sum(b) FROM {T} WHERE k BETWEEN 3 AND ${lo1 + 3}"
    assert(pushed(spark.sql(q2.replace("{T}", "kvt"))).get.scan.description()
      .contains("boundary=2"))
    assert(errorClass(q2.replace("{T}", "kvt")) == want)
    // try_sum: NULL on overflow, the sum otherwise. Spark's aggregate
    // translation drops the TRY mode, so it stays unpushed
    // (graft.sql.KvTryAggGuard)
    val trySum = same("SELECT try_sum(b) FROM {T} WHERE k BETWEEN 3 AND 12", path, big)
    assert(trySum.collect().toSeq == Seq(Row(null)))
    assert(pushed(trySum).isEmpty)
    same("SELECT try_sum(b), try_avg(b) FROM {T} WHERE k BETWEEN 3 AND 4", path, big)
  }

  test("AVG finishes from the pushed SUM and COUNT") {
    val (lo, hi) = segBounds(50)
    assertFolded(same(s"SELECT avg(d), avg(l), count(*) FROM {T} ${where(lo - 2, hi - 2)}"))
  }

  test("fallbacks keep the scan plan and its answers") {
    // SUM of an expression over a fully covered segment: no metadata answer
    val (lo, _) = segBounds(60)
    val (_, hi) = segBounds(62)
    val covered = same(s"SELECT count(*), sum(d * (1 - e)) FROM {T} ${where(lo + 1, hi - 1)}")
    assert(pushed(covered).isEmpty)
    // the same range's metadata-answerable aggregates still push
    assert(pushed(same(s"SELECT count(*), sum(d) FROM {T} ${where(lo + 1, hi - 1)}")).isDefined)
    // GROUP BY
    assert(pushed(same("SELECT k % 3, count(*), sum(l) FROM {T} GROUP BY k % 3 ORDER BY 1")).isEmpty)
    // an overlapping table (an upsert appended over existing keys)
    val over = tmpTable()
    KvCommands.createTable(source(), over, Seq("k"), maxSegBytes = Some(4096L))
    val upd = source().filter(col("k").between(100, 120)).withColumn("l", lit(-1L))
    KvCommands.append(upd, over)
    val merged = source().filter(!col("k").between(100, 120)).unionByName(upd)
    assert(pushed(same("SELECT count(*), sum(l) FROM {T} WHERE k BETWEEN 90 AND 130",
      over, merged)).isEmpty)
    // a tombstoned table
    val tomb = tmpTable()
    KvCommands.createTable(source(), tomb, Seq("k"), maxSegBytes = Some(4096L))
    KvCommands.delete(spark, tomb, col("k") === 105)
    assert(pushed(same("SELECT count(*), sum(l) FROM {T} WHERE k BETWEEN 90 AND 130",
      tomb, source().filter(col("k") =!= 105))).isEmpty)
  }

  test("the agg scan decodes the records and gap seeks the plain scan does") {
    val (_, hi0) = segBounds(80)
    val (lo1, _) = segBounds(81)
    kv()
    for (w <- Seq(where(hi0 - 3, lo1 + 3),
        s"WHERE k IN (${hi0 - 2}, ${hi0}, ${lo1 + 2}) OR k BETWEEN ${lo1 + 5} AND ${lo1 + 6}")) {
      val plain = spark.sql(s"SELECT k, l FROM kvt $w")
      val agg = spark.sql(s"SELECT count(*), sum(l) FROM kvt $w")
      plain.collect(); agg.collect()
      def metrics(df: DataFrame): (Long, Long) = {
        val scan = KvDriverCollect.scanOf(df.queryExecution.executedPlan.children.head).get
        (scan.metrics("recordsDecoded").value, scan.metrics("gapSeeks").value)
      }
      assert(pushed(agg).isDefined)
      val (pd, ps) = metrics(plain)
      assert(pd > 0)
      assert(metrics(agg) == ((pd, ps)), w)
      val aggScan = pushed(agg).get
      assert(aggScan.metrics("segmentsTotal").value == segs.length)
      assert(aggScan.metrics("segmentsPruned").value == segs.length - 2)
    }
  }
}
