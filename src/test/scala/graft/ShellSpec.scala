package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shell's execution core: corpus views + kv catalog + native
  * functions all reachable from one SQL entry point. */
class ShellSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    Tables.registerAll(s, TestSpark.sf)
    sql.GraftExtensions.register(s)
    s.conf.set("spark.sql.catalog.graft", classOf[connector.GraftKvCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      java.nio.file.Files.createTempDirectory("graft_shell").toString)
    s
  }

  /** A table's directory under the `graft` catalog instance Spark
    * resolves: Spark keeps the first instance it built under a name, so
    * a suite that registered `graft` earlier in this JVM owns the root. */
  private def tableDir(ns: String, t: String): String =
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[connector.GraftKvCatalog]
      .tableDir(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), t))

  test("corpus views, kv DDL, and native functions through one SQL session") {
    assert(Shell.execute(spark, "SELECT count(*) AS c FROM lineitem;").head().getLong(0) == 6000L)
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.sh")
    Shell.execute(spark,
      "CREATE TABLE graft.sh.t TBLPROPERTIES('key'='n_nationkey') AS SELECT * FROM nation")
    assert(Shell.execute(spark, "SELECT count(*) AS c FROM graft.sh.t").head().getLong(0) == 25L)
    val h = Shell.execute(spark,
      "SELECT rolling_hash(n_name) AS h FROM graft.sh.t WHERE n_nationkey = 3")
      .head().getLong(0)
    assert(h != 0L)
    Shell.execute(spark, "DROP TABLE graft.sh.t")
  }

  test("CREATE → LOAD DATA INPATH → SELECT purely as SQL statements") {
    // the reference CLI flow (HBaseSQLParser LOAD statement), all SQL
    val csvDir = java.nio.file.Files.createTempDirectory("graft_load")
    java.nio.file.Files.writeString(csvDir.resolve("data.csv"), "3|c\n1|a\n2|b\n")
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.ld")
    Shell.execute(spark,
      "CREATE TABLE graft.ld.t (k BIGINT, v STRING) TBLPROPERTIES('key'='k')")
    Shell.execute(spark,
      s"LOAD DATA INPATH '$csvDir/data.csv' INTO TABLE graft.ld.t FIELDS TERMINATED BY '|'")
    val rows = Shell.execute(spark, "SELECT k, v FROM graft.ld.t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a second load of the SAME keys upserts (Put semantics — reloading
    // a row key replaces the stored row); OVERWRITE load truncates first
    java.nio.file.Files.writeString(csvDir.resolve("data2.csv"), "3|c2\n1|a2\n2|b2\n")
    Shell.execute(spark,
      s"LOAD DATA INPATH '$csvDir/data2.csv' INTO TABLE graft.ld.t FIELDS TERMINATED BY '|'")
    val after = Shell.execute(spark, "SELECT k, v FROM graft.ld.t ORDER BY k").collect()
    assert(after.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b2"), (3L, "c2")), "re-loaded keys must take the new values")
    Shell.execute(spark,
      s"LOAD DATA INPATH '$csvDir/data.csv' OVERWRITE INTO TABLE graft.ld.t FIELDS TERMINATED BY '|'")
    val over = Shell.execute(spark, "SELECT k, v FROM graft.ld.t ORDER BY k").collect()
    assert(over.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Shell.execute(spark, "DROP TABLE graft.ld.t")
  }

  test("LOAD PARALL DATA is accepted and routes to the same distributed load") {
    // reference grammar parity (HBaseSQLParser.scala:213-222): the
    // PARALL variant was a separate per-task load path there; here every
    // load is the distributed range-shuffle write, so PARALL is accepted
    // as a no-op spelling of the same statement
    val csvDir = java.nio.file.Files.createTempDirectory("graft_parall")
    java.nio.file.Files.writeString(csvDir.resolve("p.csv"), "2|y\n1|x\n")
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.lp")
    Shell.execute(spark,
      "CREATE TABLE graft.lp.t (k BIGINT, v STRING) TBLPROPERTIES('key'='k')")
    Shell.execute(spark,
      s"LOAD PARALL DATA INPATH '$csvDir/p.csv' INTO TABLE graft.lp.t FIELDS TERMINATED BY '|'")
    val rows = Shell.execute(spark, "SELECT k, v FROM graft.lp.t ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
    Shell.execute(spark, "DROP TABLE graft.lp.t")
  }

  test("VACUUM TABLE reclaims replaced segments and expired snapshots via SQL") {
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.vc")
    Shell.execute(spark,
      "CREATE TABLE graft.vc.t (k BIGINT, v STRING) TBLPROPERTIES('key'='k')")
    Shell.execute(spark, "INSERT INTO graft.vc.t VALUES (1, 'a'), (2, 'b')")
    Shell.execute(spark, "INSERT INTO graft.vc.t VALUES (1, 'a2'), (3, 'c')")
    // compaction replaces the overlapping runs but RETAINS the originals
    // for the grace window — vacuum with zero retention reclaims them
    assert(Shell.execute(spark, "COMPACT TABLE graft.vc.t")
      .head().getInt(0) > 0)
    val reclaimed = Shell.execute(spark,
      "VACUUM TABLE graft.vc.t RETAIN 0 MINUTES").head().getInt(0)
    assert(reclaimed > 0, "expected replaced segments to be reclaimed")
    // data intact, history pruned to the current snapshot
    val rows = Shell.execute(spark, "SELECT k, v FROM graft.vc.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(Shell.execute(spark, "SHOW SNAPSHOTS FOR graft.vc.t").count() == 1)
    // a second vacuum finds nothing
    assert(Shell.execute(spark, "VACUUM TABLE graft.vc.t RETAIN 0 MINUTES")
      .head().getInt(0) == 0)
    Shell.execute(spark, "DROP TABLE graft.vc.t")
  }

  test("CLONE TABLE freezes snapshots zero-copy; clones are independent") {
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.cl")
    Shell.execute(spark,
      "CREATE TABLE graft.cl.src (k BIGINT, v STRING) TBLPROPERTIES('key'='k')")
    Shell.execute(spark, "INSERT INTO graft.cl.src VALUES (1, 'a')")
    Shell.execute(spark, "INSERT INTO graft.cl.src VALUES (2, 'b')")
    val midVersion = graft.connector.KvCommands.snapshots(tableDir("cl", "src"))
      .dropRight(1).last // the state after the first INSERT

    Shell.execute(spark, "CLONE TABLE graft.cl.src INTO graft.cl.full")
    Shell.execute(spark,
      s"CLONE TABLE graft.cl.src INTO graft.cl.old VERSION AS OF $midVersion")
    def ks(t: String): Seq[Long] =
      Shell.execute(spark, s"SELECT k FROM graft.cl.$t ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
    assert(ks("full") == Seq(1L, 2L))
    assert(ks("old") == Seq(1L))

    // independence both ways: writes to the clone stay in the clone,
    // and source maintenance cannot break the clone's shared files
    Shell.execute(spark, "INSERT INTO graft.cl.full VALUES (3, 'c')")
    assert(ks("full") == Seq(1L, 2L, 3L))
    assert(ks("src") == Seq(1L, 2L))
    Shell.execute(spark, "COMPACT TABLE graft.cl.src")
    Shell.execute(spark, "VACUUM TABLE graft.cl.src RETAIN 0 MINUTES")
    assert(ks("full") == Seq(1L, 2L, 3L))
    assert(ks("old") == Seq(1L))
    Seq("src", "full", "old").foreach(t =>
      Shell.execute(spark, s"DROP TABLE graft.cl.$t"))
  }

  test("RESTORE TABLE rolls back to a snapshot as a new, undoable commit") {
    Shell.execute(spark, "CREATE NAMESPACE IF NOT EXISTS graft.rs")
    Shell.execute(spark,
      "CREATE TABLE graft.rs.t (k BIGINT, v STRING) TBLPROPERTIES('key'='k')")
    Shell.execute(spark, "INSERT INTO graft.rs.t VALUES (1, 'a')")
    val goodVersion = graft.connector.KvCommands.snapshots(tableDir("rs", "t")).last
    Shell.execute(spark, "INSERT INTO graft.rs.t VALUES (2, 'oops')")
    def ks(): Seq[Long] =
      Shell.execute(spark, "SELECT k FROM graft.rs.t ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
    assert(ks() == Seq(1L, 2L))
    Shell.execute(spark,
      s"RESTORE TABLE graft.rs.t TO VERSION AS OF $goodVersion")
    assert(ks() == Seq(1L))
    // the restore is itself a commit: the pre-restore state stays a
    // retained snapshot, so the rollback is undoable
    val preRestore = graft.connector.KvCommands.snapshots(tableDir("rs", "t"))
      .dropRight(1).last
    Shell.execute(spark,
      s"RESTORE TABLE graft.rs.t VERSION AS OF $preRestore")
    assert(ks() == Seq(1L, 2L))
    // an unknown version fails loudly
    val e = intercept[Exception] {
      Shell.execute(spark, "RESTORE TABLE graft.rs.t TO VERSION AS OF 999999")
    }
    assert(e.getMessage.contains("no snapshot"))
    Shell.execute(spark, "DROP TABLE graft.rs.t")
  }

  test("keyword completion covers graft statements and Spark SQL keywords") {
    // the reference CLI's reflection-based completer restated
    // (HBaseSQLParser.getKeywords / HBaseSQLCliDriver)
    assert(Shell.complete("LOAD PARALL DATA INP").contains("INPATH"))
    assert(Shell.complete("COMP").contains("COMPACT"))
    assert(Shell.complete("SHOW SNAP").contains("SNAPSHOTS"))
    assert(Shell.complete("sel").contains("SELECT")) // case-insensitive
    assert(Shell.complete("SELECT * FR").contains("FROM"))
    // empty prefix lists the whole vocabulary, Spark keywords included
    val all = Shell.complete("")
    assert(all.contains("GROUP") && all.contains("WHERE") && all.contains("PARALL"))
    assert(all == all.sorted && all.distinct == all)
  }

  test("bin/graft-sql launcher drives the shell end-to-end (own JVM)") {
    // the reference ships bin/hbase-sql; this pins the shipped launcher
    // actually boots a session and answers SQL from piped stdin —
    // script + classpath + JDK module flags, not just the Scala entry
    val launcher = new java.io.File("bin/graft-sql")
    assume(launcher.exists(), "run from the repo root")
    val kvRoot = java.nio.file.Files.createTempDirectory("graft_sql_e2e")
    val pb = new ProcessBuilder("bin/graft-sql", TestSpark.sf,
      kvRoot.toString)
    pb.redirectErrorStream(false)
    val p = pb.start()
    val out = new java.io.PrintStream(p.getOutputStream, true)
    out.println("SELECT count(*) AS c FROM nation;")
    out.println("exit")
    out.close()
    val finished = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    val stdout = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(finished, "launcher did not exit within 180 s")
    assert(p.exitValue() == 0, s"launcher exited ${p.exitValue()}: $stdout")
    assert(stdout.contains("graft shell"), stdout.take(500))
    assert(stdout.contains("25"), stdout.take(500)) // nation has 25 rows
  }
}
