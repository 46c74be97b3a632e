package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The repository benchmark: one seeded, closed-loop workload against
  * the engine's public surface (SQL through GraftKvCatalog, SQL
  * maintenance statements, graft.pipeline entry points), one client
  * thread, every answer checked against an independently computed one.
  *
  * {{{
  * PerfBench --workload kv_point --seed 1 --seconds 10 --trace 0
  *   [--scale 0.02] [--ops N] [--work DIR]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
  * operations traced and prints the per-layer metrics. `--ops N` runs
  * exactly N timed operations instead of `--seconds`, which makes every
  * count repeat exactly for a given seed. The last stdout line is the
  * result object; the lines before it echo the host and the full detail. */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      scale: Double, ops: Int, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("scale", "0.02").toDouble,
      m.getOrElse("ops", "0").toInt, m.getOrElse("work", "work"))
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (expected one of ${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1 && a.scale > 0 && a.ops >= 0, "seconds, scale and ops must be positive")
    a
  }

  /** Least warm-up time before measuring, unless `--ops` fixes the
    * run's length; warm-up runs at least one round either way. */
  val WarmupSeconds = 4
  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupReps = 3
  /** Spark task slots. Two of a 4-core host's cores leave room for the
    * JIT, GC and listener threads; in an interleaved comparison on
    * kv_analytic, four slots gave the same median throughput with a
    * wider run-to-run spread. */
  val Cores = 2

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = math.min(Runtime.getRuntime.availableProcessors(), Cores)
    val runDir = new java.io.File(args.work, s"run-${ProcessHandle.current().pid()}").getAbsoluteFile
    runDir.mkdirs()
    // exit explicitly on failure: Spark's non-daemon threads would keep a
    // JVM whose main thread died alive
    val ok = try { run(args, cores, runDir.getPath); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally Data.deleteRecursively(runDir)
    if (!ok) sys.exit(1)
  }

  def session(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.connector.GraftKvCatalog")
      .config("spark.sql.catalog.graft.root", s"$runDir/kv")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftExtensions.quietDegenerateDppWarns()
    spark
  }

  /** Wall milliseconds of a fixed single-thread integer loop: the
    * machine's speed at that moment, echoed beside the metrics so a run
    * made on a loaded host can be told apart from a slow program. */
  def calibrationMs(): Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t) / 1e6
    if (x == 0) ms + 1 else ms
  }

  /** Timed-phase samples and failures. */
  final class Tally {
    val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val byClass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var writtenBytes = 0L
    var checksum = 0L
    var ops = 0L
    var wallS = 0.0

    def fail(what: String): Unit = {
      failed += 1
      if (failures.size < 10) failures += what
    }
  }

  def run(args: Args, cores: Int, runDir: String): Unit = {
    val t0 = System.nanoTime()
    val spark = session(cores, runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    println("host " + Json.obj(Report.host(spark, args, cores)))

    val phases = mutable.LinkedHashMap("session" -> sessionS)
    def phase[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t) / 1e9
    }
    val dataDir = Data.dir(new java.io.File(args.work).getAbsolutePath, args.scale)
    phase("data")(Data.ensure(spark, dataDir, args.scale))
    val w = Workload(args.workload, Ctx(spark, dataDir, s"$runDir/kv", args.scale, args.seed))
    phase("oracle")(w.prepare())

    // set up SetupReps times into fresh namespaces; operations use the last
    val costs = phase("setup")((0 until SetupReps).map { r =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.s$r")
      if (r > 0) Data.deleteRecursively(new java.io.File(s"$runDir/kv/s${r - 1}"))
      w.setup(s"s$r")
    })
    w.userBytes = w.loadBytes
    val tally = new Tally
    tally.writtenBytes = FileDiff.bytes(w.dataDirs)

    phase("warmup")(runOps(w, w.ops(new scala.util.Random(args.seed * 1000003L + 1)),
      new Client(spark, None), tally, limitOps = w.round,
      seconds = if (args.ops > 0) 0 else WarmupSeconds, records = None))
    tally.byKind.clear(); tally.byClass.clear(); tally.ops = 0; tally.wallS = 0.0

    phases("calibration_before") = calibrationMs() / 1e3
    val timed = w.ops(new scala.util.Random(args.seed))
    val listener = if (args.trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val client = new Client(spark, listener)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val seconds = if (args.ops > 0) 0 else args.seconds
    runOps(w, timed, client, tally, args.ops, seconds, if (args.trace) Some(records) else None)
    listener.foreach(spark.sparkContext.removeSparkListener)
    phases("calibration_after") = calibrationMs() / 1e3

    val metrics: Report.Metrics =
      if (!args.trace) Report.endToEnd(sessionS, costs, tally, FileDiff.bytes(w.dataDirs), w).headline
      else {
        val store = Report.storeShape(w.dataDirs)
        val spansFile = new java.io.File(args.work, s"trace/${args.workload}-seed${args.seed}.jsonl")
        spansFile.getParentFile.mkdirs()
        val out = new java.io.PrintWriter(spansFile)
        try client.allSpans.foreach(s => out.println(s.json)) finally out.close()
        println(s"spans ${spansFile.getPath}")
        println("determinism " + Json.obj(Report.determinism(records.toSeq, tally)))
        // an untraced continuation of the same stream sizes the tracing overhead
        val cont = new Tally
        runOps(w, timed, new Client(spark, None), cont, args.ops, (seconds + 1) / 2, None)
        tally.attempted += cont.attempted
        tally.failed += cont.failed
        tally.failures ++= cont.failures
        tally.writtenBytes += cont.writtenBytes
        Report.perLayer(records.toSeq, client.allSpans, sessionS, costs, tally,
          Report.ratio(cont.ops, cont.wallS), store)
      }

    phase("final_checks")(w.finalChecks()).foreach { case (name, res) =>
      tally.attempted += 1
      res.foreach(d => tally.fail(s"$name: $d"))
    }
    if (!args.trace) {
      val disk = FileDiff.bytes(w.dataDirs)
      println("detail " + Json.obj(Report.detail(
        Report.endToEnd(sessionS, costs, tally, disk, w), tally, costs, w, disk) :+
        ("phases_s" -> phases.toMap)))
    } else println("failures " + Json.value(tally.failures.toSeq))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (name, (v, unit)) =>
        name -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> unit)))
      })))))
  }

  /** Runs operations in a closed loop until `limitOps` have run,
    * `seconds` have passed (a zero bound is met at once) and the current
    * round is complete. Latency covers only `op.run`; staging, directory
    * listings and answer checks happen outside it. */
  def runOps(w: Workload, it: Iterator[Op], client: Client, tally: Tally,
      limitOps: Int, seconds: Int, records: Option[mutable.ArrayBuffer[OpRecord]]): Unit = {
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    var n = 0
    def more = n < limitOps || System.nanoTime() < deadline || n % w.round != 0
    while (more) {
      val op = it.next()
      op.before()
      val before = if (op.writes) FileDiff.listing(w.dataDirs) else Map.empty[String, (Long, Long)]
      val rec = records.map { rs => val r = new OpRecord(rs.size, op.kind); r.write = op.writes; rs += r; r }
      rec.foreach(client.begin)
      val t0 = System.nanoTime()
      val result =
        try Right(op.run(client))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.foreach(_ => client.end())
      tally.attempted += 1
      result match {
        case Left(e) =>
          tally.fail(s"${op.desc}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(rows) =>
          op.check(rows) match {
            case Some(d) => tally.fail(s"${op.desc}: $d")
            case None =>
              tally.byKind.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += ms
              tally.byClass.getOrElseUpdate(op.cls, mutable.ArrayBuffer.empty) += ms
          }
          tally.checksum = tally.checksum * 31 +
            (op.desc + Workload.canonRows(rows).sorted.mkString("|")).hashCode
      }
      if (op.writes) {
        val diff = FileDiff.between(before, FileDiff.listing(w.dataDirs))
        tally.writtenBytes += diff.bytesWritten
        rec.foreach(_.files = diff)
      }
      n += 1
    }
    tally.ops += n
    tally.wallS += (System.nanoTime() - start) / 1e9
  }
}
