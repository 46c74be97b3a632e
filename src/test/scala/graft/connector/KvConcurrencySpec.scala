package graft.connector

import graft.TestSpark
import graft.store.SegmentFile
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer safety of the manifest CAS commit protocol: the
  * writer-vs-writer race the plain rename swap could not survive (two
  * committers read the same prevLive; the later swap silently dropped
  * the earlier commit's segments, and the orphan sweep then deleted the
  * files). With create-if-absent versioned commits, every interleaving
  * must preserve every committed segment. */
class KvConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def inParallel(n: Int)(work: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try work(i) catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown() // maximize interleaving: all threads blocked at the gate
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "workers timed out")
    if (!failures.isEmpty) throw failures.peek()
  }

  test("manifest CAS: N racing committers never drop a committed entry") {
    val dir = Files.createTempDirectory("graft_cas").toString
    val threads = 8
    val perThread = 40
    inParallel(threads) { t =>
      (0 until perThread).foreach { i =>
        SegmentFile.commitManifest(dir)(base =>
          Some(base.copy(files = base.files + s"w$t-$i.kv")))
      }
    }
    val live = SegmentFile.readManifest(dir).getOrElse(Set.empty)
    val expected = (for (t <- 0 until threads; i <- 0 until perThread)
      yield s"w$t-$i.kv").toSet
    assert(live == expected) // every commit survived every interleaving
    // the commit log stayed bounded and the newest version is the live set
    val versions = SegmentFile.manifestVersions(dir)
    assert(versions.size <= SegmentFile.MaxRetainedManifests)
    assert(SegmentFile.readManifestVersion(dir, versions.last).contains(live))
    // linearizable history: with append-only transforms, every retained
    // version must contain its predecessor — a violation means two
    // interleaved commits shared a version slot or read a stale base
    versions.sliding(2).foreach {
      case Seq(a, b) =>
        val sa = SegmentFile.readManifestVersion(dir, a).get
        val sb = SegmentFile.readManifestVersion(dir, b).get
        assert(sa.subsetOf(sb), s"version $b lost entries committed at $a")
      case _ => ()
    }
  }

  test("manifest CAS: no-op transform on a versioned table publishes nothing") {
    val dir = Files.createTempDirectory("graft_cas_noop").toString
    val ab = SegmentFile.Manifest("h", Set("a.kv", "b.kv"))
    SegmentFile.commitManifest(dir)(_ => Some(ab))
    val before = SegmentFile.manifestVersions(dir)
    // an epoch REPLAY repairing an already-swapped commit is a no-op:
    // it must not add a duplicate snapshot to the time-travel log
    SegmentFile.commitManifest(dir)(base =>
      Some(base.copy(files = base.files ++ Set("a.kv"))))
    SegmentFile.commitManifest(dir)(_ => Some(ab))
    assert(SegmentFile.manifestVersions(dir) == before)
    // an aborting transform publishes nothing either
    assert(SegmentFile.commitManifest(dir)(_ => None).isEmpty)
    assert(SegmentFile.manifestVersions(dir) == before)
    // the header is half the manifest: changing only it is a commit
    SegmentFile.commitManifest(dir)(base => Some(base.copy(header = "h2")))
    assert(SegmentFile.manifestVersions(dir) == before :+ (before.last + 1))
    assert(SegmentFile.readHead(dir).map(_._2) ==
      Some(SegmentFile.Manifest("h2", Set("a.kv", "b.kv"))))
  }

  test("two concurrent batch appenders lose no rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_2w").toString + "/t"
    KvCommands.createTable(
      Seq((-1L, "seed")).toDF("k", "v"), path, Seq("k"))
    val writers = 4
    val batches = 5
    val rowsPerBatch = 200
    inParallel(writers) { w =>
      (0 until batches).foreach { b =>
        val lo = (w * batches + b) * rowsPerBatch
        val df = spark.range(lo, lo + rowsPerBatch)
          .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
        KvCommands.append(df, path)
      }
    }
    val got = KvCommands.table(spark, path).filter(col("k") >= 0)
    assert(got.count() === writers.toLong * batches * rowsPerBatch)
    assert(got.select(countDistinct("k")).as[Long].head() ===
      writers.toLong * batches * rowsPerBatch)
  }

  test("racing overwrites publish one writer's declaration with its segments") {
    // two overwrites with different value types start at a barrier onto
    // one seeded table: whichever commits last, the head's declaration
    // is that writer's, so its values never decode as NULL
    import org.apache.spark.sql.types.{DataType, StructType}
    val str = spark.range(20).select(col("id").cast("int").as("k"),
      concat(lit("s"), col("id")).as("v"))
    val int = spark.range(20).select(col("id").cast("int").as("k"),
      col("id").cast("int").as("v"))
    (1 to 30).foreach { round =>
      val path = Files.createTempDirectory("graft_ow2").toString + "/t"
      KvCommands.createTable(str.limit(1), path, Seq("k"))
      inParallel(2)(w => KvCommands.createTable(Seq(str, int)(w), path, Seq("k")))
      val head = GraftKvMeta.read(path).get.schema("v").dataType
      val written = SegmentFile.listSegments(path).map(m => DataType
        .fromJson(m.schemaJson.get).asInstanceOf[StructType]("v").dataType).toSet
      assert(written == Set(head), s"round $round: header $head, segments $written")
      val t = KvCommands.table(spark, path)
      assert(t.count() == 20 && t.filter(col("v").isNull).count() == 0,
        s"round $round: values decode as NULL")
      KvCommands.dropTable(path)
    }
  }

  test("an ALTER racing an overwrite is kept with the overwrite's rows") {
    // the ALTER commits while the overwrite's job runs (between its plan
    // and its CAS): the overwrite re-applies the column it did not plan
    // against, so the head has both the column and the overwrite's rows
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    val cat = new GraftKvCatalog
    cat.initialize("graft_race", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", Files.createTempDirectory("graft_race").toString)))
    val ident = Identifier.of(Array("db"), "t")
    cat.createTable(ident, new StructType().add("k", LongType).add("v", StringType),
      Array.empty, java.util.Map.of("key", "k"))
    val path = cat.tableDir(ident)
    KvCommands.append(spark.range(5).select(col("id").as("k"), lit("old").as("v")), path)
    KvRewriteSpec.rival.set(() => {
      cat.alterTable(ident, TableChange.addColumn(Array("w"), IntegerType)); ()
    })
    val fire = udf { (k: Long) =>
      Option(KvRewriteSpec.rival.getAndSet(null)).foreach(_())
      k
    }.asNondeterministic()
    KvCommands.createTable(spark.range(100, 103)
      .select(fire(col("id")).as("k"), lit("new").as("v")), path, Seq("k"))
    assert(KvRewriteSpec.rival.get() == null, "the ALTER never ran")
    assert(GraftKvMeta.read(path).get.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(KvCommands.table(spark, path).select("k", "v", "w").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSet ==
      Set((100L, "new", true), (101L, "new", true), (102L, "new", true)))
  }

  test("appenders racing a compactor lose no rows and make no duplicates") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_wc").toString + "/t"
    KvCommands.createTable(Seq((-1L, "seed")).toDF("k", "v"), path, Seq("k"))
    val writers = 3
    val batches = 4
    val rowsPerBatch = 150
    // worker `writers` is the compactor, churning while appends land;
    // overlapping appends (same key ranges re-put at later generations)
    // force real overlap groups for it to rewrite
    inParallel(writers + 1) {
      case w if w < writers =>
        (0 until batches).foreach { b =>
          val lo = (w * batches + b) * rowsPerBatch
          val df = spark.range(lo, lo + rowsPerBatch)
            .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
          KvCommands.append(df, path)
        }
      case _ =>
        (0 until 6).foreach { _ =>
          KvCommands.compactMinor(spark, path, minGroup = 2,
            retainReplacedMs = 60000L)
          Thread.sleep(50)
        }
    }
    val total = writers.toLong * batches * rowsPerBatch
    val got = KvCommands.table(spark, path).filter(col("k") >= 0)
    assert(got.count() === total)          // nothing lost, nothing doubled
    assert(got.select(countDistinct("k")).as[Long].head() === total)
    // a final quiesced compaction fully normalizes the LSM
    KvCommands.compactMinor(spark, path, minGroup = 2)
    assert(KvCommands.table(spark, path).filter(col("k") >= 0).count() === total)
  }

  test("two concurrent streaming sinks + compactor stay exactly-once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_2sink").toString
    val kvPath = s"$root/t"
    KvCommands.createTable(Seq((-1L, "seed")).toDF("k", "v"), kvPath, Seq("k"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val sinks = 2
    val batches = 4
    val rowsPerBatch = 250
    def batchDf(w: Int, b: Int) = {
      val lo = (w * batches + b) * rowsPerBatch
      spark.range(lo, lo + rowsPerBatch)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    }
    // worker `sinks` is a concurrent compactor churning mid-stream
    inParallel(sinks + 1) {
      case w if w < sinks =>
        val inDir = s"$root/in$w"
        batchDf(w, 0).write.mode("append").parquet(inDir)
        val q = spark.readStream.schema(schema).parquet(inDir)
          .writeStream.format("graftkv")
          .option("checkpointLocation", s"$root/ckpt$w")
          .start(kvPath)
        (1 until batches).foreach { b =>
          batchDf(w, b).write.mode("append").parquet(inDir)
          q.processAllAvailable()
        }
        q.processAllAvailable()
        q.stop()
      case _ =>
        (0 until 8).foreach { _ =>
          KvCommands.compactMinor(spark, kvPath, minGroup = 2,
            retainReplacedMs = 60000L)
          Thread.sleep(100)
        }
    }
    val total = sinks.toLong * batches * rowsPerBatch
    val got = KvCommands.table(spark, kvPath).filter(col("k") >= 0)
    assert(got.count() === total)
    assert(got.select(countDistinct("k")).as[Long].head() === total)
    assert(got.filter(col("v") =!= concat(lit("v"), col("k"))).count() === 0L)
    // quiesced compaction normalizes the interleaved epochs' segments
    KvCommands.compactMinor(spark, kvPath, minGroup = 2)
    assert(KvCommands.table(spark, kvPath).filter(col("k") >= 0)
      .count() === total)
  }

  test("100-generation append-heavy table: parallel scan, correct merge, compaction normalizes") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val path = Files.createTempDirectory("graft_100g").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    // generation g upserts the overlapping window [g*50, g*50+500):
    // the streaming-ingest shape — every key rewritten by ~10 later
    // generations, 100 overlapping sorted runs on disk
    (0 until 100).foreach { g =>
      val w = new GraftKvBufferedPutWriter(path, schema, Seq("k"),
        graft.store.RowCodec.Binary, gen = g + 1L, partitionId = 0,
        taskId = g.toLong)
      (g * 50 until g * 50 + 500).foreach { k =>
        w.write(InternalRow(k.toLong, UTF8String.fromString(s"g$g-$k")))
      }
      w.commit() match {
        case GraftKvCommit(files) =>
          GraftKvCommitProtocol.commit(path, files.toSet,
            KvTableMeta(schema, Seq("k"), graft.store.RowCodec.Binary))
      }
    }
    val segsBefore = graft.store.SegmentFile.listSegments(path).size
    assert(segsBefore >= 100, s"expected >=100 live segments, got $segsBefore")
    val t = KvCommands.table(spark, path)
    // LSM overlap-shard parallelism: a scan over 100 overlapping runs
    // still plans many input partitions (reads proceed in parallel)
    assert(t.rdd.getNumPartitions > 8,
      s"scan of 100-gen table planned only ${t.rdd.getNumPartitions} partitions")
    // Put-merge correctness: last generation wins every overlapped key
    assert(t.count() === 5450L) // keys [0, 99*50+500)
    def expected(k: Long): String = { val g = math.min(99L, k / 50); s"g$g-$k" }
    Seq(0L, 777L, 2500L, 4949L, 5449L).foreach { k =>
      assert(t.filter(col("k") === k).head().getString(1) === expected(k))
    }
    // compaction folds the overlapping runs into disjoint ones
    assert(KvCommands.compactMinor(spark, path, minGroup = 2,
      retainReplacedMs = 0L) > 0)
    val segsAfter = graft.store.SegmentFile.listSegments(path).size
    assert(segsAfter < segsBefore / 2,
      s"compaction left $segsAfter of $segsBefore segments")
    val tc = KvCommands.table(spark, path)
    assert(tc.count() === 5450L)
    Seq(0L, 777L, 2500L, 4949L, 5449L).foreach { k =>
      assert(tc.filter(col("k") === k).head().getString(1) === expected(k))
    }
  }

  test("retention sweep GCs stale epoch markers but keeps each query's newest") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_mks").toString + "/t"
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    val old = System.currentTimeMillis() - 3600_000L
    def mk(name: String, aged: Boolean): Unit = {
      val f = new java.io.File(path, name)
      java.nio.file.Files.writeString(f.toPath, "x")
      if (aged) f.setLastModified(old)
    }
    val qa = "11111111-aaaa-bbbb-cccc-dddddddddddd" // UUID-shaped: dashes
    val qb = "22222222-aaaa-bbbb-cccc-dddddddddddd"
    mk(s"._graft_epoch-$qa-3.done", aged = true)
    mk(s"._graft_epoch-$qa-7.done", aged = true)   // newest for qa — kept
    mk(s"._graft_epoch-$qa-2.intent", aged = true)
    mk(s"._graft_epoch-$qb-1.done", aged = true)   // newest for qb — kept
    mk(s"._graft_epoch-$qa-9.intent.tmp", aged = true) // crashed writeIntent
    mk(s"._graft_epoch-$qb-0.done", aged = false)  // young — kept by age
    KvCommands.sweepUnmanifested(path, olderThanMs = 600_000L)
    val left = new java.io.File(path).list().filter(_.startsWith("._graft_epoch-")).toSet
    assert(left === Set(
      s"._graft_epoch-$qa-7.done",  // newest per query survives any age
      s"._graft_epoch-$qb-1.done",
      s"._graft_epoch-$qb-0.done")) // within the window survives too
  }

  test("a chunk that would overflow its segment-name stride fails loudly") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val path = Files.createTempDirectory("graft_stride").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    // 1-byte segment cap → one segment per row → >1000 segments in one
    // chunk would overrun the next chunk's name range and silently break
    // cross-chunk last-write-wins; the guard must reject it instead
    val w = new GraftKvBufferedPutWriter(path, schema, Seq("k"),
      graft.store.RowCodec.Binary, gen = 1L, partitionId = 0, taskId = 0L,
      maxSegBytes = 1L)
    (0 until 1200).foreach { k =>
      w.write(InternalRow(k.toLong, UTF8String.fromString(s"v$k")))
    }
    val e = intercept[IllegalStateException](w.commit())
    assert(e.getMessage.contains("segment.maxBytes"))
  }

  test("a SEPARATE PROCESS racing this JVM's commits loses nothing") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // the CAS is hard-link-based, so its guarantee must hold across OS
    // processes (two Spark JOBS appending one table), not just threads —
    // fork a real second JVM and interleave commits with it
    val path = Files.createTempDirectory("graft_xproc").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    val rows = 100
    val commits = 20
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val child = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.connector.KvCrossProcessMain",
      path, "child", "1000000", rows.toString, commits.toString)
      .redirectErrorStream(true).start()
    // parent commits its own disjoint range concurrently, in-process
    (0 until commits).foreach { c =>
      val w = new GraftKvBufferedPutWriter(path, schema, Seq("k"),
        graft.store.RowCodec.Binary, gen = c + 1L, partitionId = 1,
        taskId = c.toLong)
      val base = c.toLong * rows
      (base until base + rows).foreach { k =>
        w.write(InternalRow(k, UTF8String.fromString(s"parent-$k")))
      }
      w.commit() match {
        case GraftKvCommit(files) =>
          GraftKvCommitProtocol.commit(path, files.toSet,
            KvTableMeta(schema, Seq("k"), graft.store.RowCodec.Binary))
      }
    }
    assert(child.waitFor(120, TimeUnit.SECONDS), "child JVM timed out")
    assert(child.exitValue() === 0, "child JVM failed")
    val total = 2L * commits * rows
    val got = KvCommands.table(spark, path)
    assert(got.count() === total)
    assert(got.filter(col("k") >= 1000000L).count() === commits.toLong * rows)
  }

  test("an OS-process appender racing this JVM's compactor loses nothing") {
    import spark.implicits._
    // the two-maintainers scenario ACROSS PROCESSES: a compactor's
    // swap-CAS in this JVM interleaves with an appender's commit-CAS in
    // a forked JVM — the in-process fuzz covers the interleaving, this
    // covers the hard-link CAS actually arbitrating between OS processes
    val path = Files.createTempDirectory("graft_xproc_c").toString + "/t"
    KvCommands.createTable(Seq((-1L, "seed")).toDF("k", "v"), path, Seq("k"))
    // overlapping generations of one key range → real compaction work
    (0 until 4).foreach { g =>
      KvCommands.append(spark.range(0, 400)
        .select(col("id").as("k"), concat(lit(s"g$g-"), col("id")).as("v")),
        path)
    }
    val rows = 25
    val commits = 40
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val child = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.connector.KvCrossProcessMain",
      path, "child", "1000000", rows.toString, commits.toString)
      .redirectErrorStream(true).start()
    // compact repeatedly while the child process is still committing
    while (child.isAlive)
      KvCommands.compactMinor(spark, path, minGroup = 2,
        retainReplacedMs = 60000L)
    assert(child.waitFor(120, TimeUnit.SECONDS), "child JVM timed out")
    assert(child.exitValue() === 0, "child JVM failed")
    KvCommands.compactMinor(spark, path, minGroup = 2,
      retainReplacedMs = 60000L)
    val got = KvCommands.table(spark, path)
    // no child commit dropped by a compactor swap, none duplicated
    assert(got.filter(col("k") >= 1000000L).count() === commits.toLong * rows)
    // base keys: one row per key, last generation won, seed intact
    val base = got.filter(col("k") >= 0 && col("k") < 1000000L)
    assert(base.count() === 400L)
    assert(base.filter(col("v").startsWith("g3-")).count() === 400L)
    assert(got.filter(col("k") === -1L).count() === 1L)
  }

  test("two racing compactors on one table never duplicate rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_2c").toString + "/t"
    KvCommands.createTable(Seq((-1L, "seed")).toDF("k", "v"), path, Seq("k"))
    // overlapping generations of the same key range → overlap groups
    (0 until 4).foreach { g =>
      val df = spark.range(0, 400)
        .select(col("id").as("k"), concat(lit(s"g$g-"), col("id")).as("v"))
      KvCommands.append(df, path)
    }
    inParallel(2) { _ =>
      KvCommands.compactMinor(spark, path, minGroup = 2,
        retainReplacedMs = 60000L)
    }
    val got = KvCommands.table(spark, path).filter(col("k") >= 0)
    assert(got.count() === 400L)           // Put-upsert: one row per key
    // last generation won for every key (g3- prefix)
    assert(got.filter(col("v").startsWith("g3-")).count() === 400L)
  }
}
