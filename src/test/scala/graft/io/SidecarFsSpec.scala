package graft.io

import graft.TestSpark
import graft.pipeline.{AnnIndex, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sidecar/commit layer must work through the Hadoop `FileSystem`
  * API on an EXPLICIT scheme-qualified path — the 100-TB posture where
  * indexes live on shared storage next to their data, not the driver's
  * local disk. `file:` is the non-default-spelling stand-in for
  * `hdfs://`/`s3a://` (same resolution path: URI → FileSystem), the
  * closest a single-machine sandbox gets to a remote store. */
class SidecarFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A scheme-qualified (file:) temp dir — `java.nio` would treat this
    * string as a RELATIVE path named "file:…", so anything that passes
    * these tests genuinely resolved through Hadoop. */
  private def schemeTmp(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toAbsolutePath

  test("primitives: read/write/atomic-overwrite/moveQuiet on a file: URI") {
    val dir = schemeTmp("fsprim")
    val f = SidecarFs.child(dir, "a.txt")
    SidecarFs.writeString(f, "one")
    assert(SidecarFs.readString(f) == "one")
    SidecarFs.writeStringAtomic(f, "two")
    assert(SidecarFs.readString(f) == "two")
    assert(SidecarFs.exists(f) && !SidecarFs.isDirectory(f))
    // no tmp sibling left behind by the atomic write (Hadoop's local
    // checksum .crc shadow files are the FS's own, not leftovers)
    val ls = new java.io.File(new java.net.URI(dir)).list().toSeq
      .filterNot(_.endsWith(".crc"))
    assert(ls == Seq("a.txt"), s"leftover files: $ls")

    // moveQuiet: the java.nio Files.move failure modes the recovery
    // state machines re-evaluate on — false on missing source, false
    // on existing destination (never a move INTO an existing dir)
    val d1 = SidecarFs.child(dir, "d1")
    val d2 = SidecarFs.child(dir, "d2")
    SidecarFs.mkdirs(d1)
    SidecarFs.mkdirs(d2)
    assert(!SidecarFs.moveQuiet(SidecarFs.child(dir, "absent"), d2))
    assert(!SidecarFs.moveQuiet(d1, d2))
    assert(SidecarFs.isDirectory(d1), "failed move must not consume src")
    val d3 = SidecarFs.child(dir, "d3")
    assert(SidecarFs.moveQuiet(d1, d3))
    assert(!SidecarFs.isDirectory(d1) && SidecarFs.isDirectory(d3))
    SidecarFs.deleteRecursively(dir)
    assert(!SidecarFs.exists(dir))
  }

  test("create and mkdirs on the local scheme: parents made, no .crc shadows") {
    val dir = schemeTmp("fscreate")
    val f = SidecarFs.child(dir, "a/b/c.bin")
    val out = SidecarFs.create(f)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    val again = SidecarFs.create(f) // overwrite truncates
    try again.write(Array[Byte](9)) finally again.close()
    assert(SidecarFs.size(f) == 1L)
    SidecarFs.mkdirs(SidecarFs.child(dir, "x/y"))
    SidecarFs.mkdirs(SidecarFs.child(dir, "x/y")) // idempotent
    assert(SidecarFs.isDirectory(SidecarFs.child(dir, "x/y")))
    val crcs = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(dir)))
      .filter(_.getFileName.toString.endsWith(".crc")).count()
    assert(crcs == 0L)
    SidecarFs.deleteRecursively(dir)
  }

  test("hadoopConf: session and sessionless threads each keep one stable conf") {
    import org.apache.spark.sql.SparkSession
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    def sessionless(): org.apache.hadoop.conf.Configuration =
      pool.submit(new java.util.concurrent.Callable[org.apache.hadoop.conf.Configuration] {
        def call() = { SparkSession.clearActiveSession(); SidecarFs.hadoopConf }
      }).get()
    try {
      SparkSession.setActiveSession(spark)
      val s0 = SidecarFs.hadoopConf
      val t0 = sessionless()
      assert(!(s0 eq t0))
      for (_ <- 1 to 5) {
        assert(SidecarFs.hadoopConf eq s0, "session conf evicted by a task thread")
        assert(sessionless() eq t0, "sessionless conf rebuilt")
      }
    } finally pool.shutdown()
  }

  test("ANN index lifecycle on a file: URI — build, probe, tombstone " +
      "crash-swap healing, rebuild") {
    val emb = graft.Tables.table(spark, TestSpark.sf, "embeddings")
      .limit(60).cache()
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val dir = schemeTmp("ann_scheme") + "/idx"
    AnnIndex.build(emb, dir, dim = dim, nPlanes = 16, nCentroids = 4)
    assert(SidecarFs.exists(SidecarFs.child(dir, "_centroids.txt")))
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0)
    // probe answers are path-spelling-independent: same corpus indexed
    // at a plain local path ranks identically
    val localDir = java.nio.file.Files.createTempDirectory("ann_plain")
      .toString + "/idx"
    AnnIndex.build(emb, localDir, dim = dim, nPlanes = 16, nCentroids = 4)
    def ids(d: String): Seq[Long] =
      AnnIndex.ivfTopK(spark, d, q, k = 8, nProbe = 4)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ids(dir) == ids(localDir))

    // tombstones + the 4-step swap state machine over the scheme path:
    // delete, then simulate a crash between swap steps (2) and (3) —
    // live moved away, committed __new pending — and probe: recovery
    // must roll forward, deleted ids stay hidden
    val victims = emb.filter($"vec_id" % 7 === 3).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    AnnIndex.delete(spark, dir, victims)
    val deleted = SidecarFs.child(dir, "_deleted")
    val nw = SidecarFs.child(dir, "_deleted__new")
    val old = SidecarFs.child(dir, "_deleted__old")
    spark.read.parquet(deleted).write.mode("overwrite").parquet(nw)
    assert(SidecarFs.exists(SidecarFs.child(nw, "_SUCCESS")))
    assert(SidecarFs.moveQuiet(deleted, old))
    val probed = AnnIndex.ivfTopK(spark, dir, q, k = 8, nProbe = 4)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(probed.forall(!victimIds.contains(_)))
    assert(SidecarFs.isDirectory(deleted), "swap must roll forward")
    assert(!SidecarFs.isDirectory(nw) && !SidecarFs.isDirectory(old))

    // rebuild-in-place swaps directories THROUGH the scheme path and
    // folds the tombstones away
    AnnIndex.rebuildInPlace(spark, dir)
    assert(!SidecarFs.exists(deleted))
    assert(spark.read.parquet(dir).count() == emb.count() - victimIds.size)
    emb.unpersist()
  }

  test("MinHash index on a file: URI — build, probe, and the " +
      "missing-sidecar guard sees remote data") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (1L, "completely different content about spark query engines and io"),
      (2L, "rain falls softly on the quiet gray roofs of the old town")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (11L, "nothing here resembles anything else in any corpus at all")
    ).toDF("doc_id", "text")
    val dir = schemeTmp("mh_scheme") + "/mhidx"
    Dedup.buildMinhashIndex(docs, dir)
    val pairs = Dedup.dedupAgainstIndex(batch, dir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSet == Set((0L, 10L)))
    // the 'data without params sidecar' guard must see data on the
    // SAME filesystem the sidecar check resolves — drop the sidecar
    // and every entry refuses loudly instead of silently rebuilding
    // over the ingested horizon
    SidecarFs.deleteIfExists(SidecarFs.child(dir, "_minhash_params.json"))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(batch, dir).collect()
    }
    assert(e.getMessage.contains("buildMinhashIndex"))
    assert(SidecarFs.exists(s"$dir/minhash"),
      "index data must survive the refused probe")
  }

  test("kv table meta round-trips through a file: URI") {
    import org.apache.spark.sql.types._
    val dir = schemeTmp("kvmeta") + "/tbl"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    graft.connector.GraftKvMeta.write(dir, schema, Seq("k"),
      props = Map(graft.connector.GraftKvMeta.SegmentCompressProp -> "lz4"))
    val m = graft.connector.GraftKvMeta.read(dir).get
    assert(m.keys == Seq("k") && m.schema == schema &&
      m.props(graft.connector.GraftKvMeta.SegmentCompressProp) == "lz4")
    // overwrite is atomic (tmp + rename over): second write wins, no
    // tmp junk next to the meta
    graft.connector.GraftKvMeta.write(dir, schema, Seq("k"))
    assert(graft.connector.GraftKvMeta.read(dir).get.props.isEmpty)
    val ls = new java.io.File(new java.net.URI(dir)).list().toSeq
      .filterNot(_.endsWith(".crc"))
    assert(ls == Seq("_graft_meta.json"), s"leftover files: $ls")
  }

  test("kv table full lifecycle on a file: URI — create, load, upsert, " +
      "DML, time travel, compact, vacuum") {
    import graft.connector.{KvCommands, KvIndex}
    val root = schemeTmp("kvlife")
    val dir = root + "/t"

    // CREATE via CSV bulk load (O8's pipeline) through the scheme path
    val csv = java.nio.file.Files.createTempDirectory("kvlife_csv")
      .resolve("in.csv")
    java.nio.file.Files.writeString(csv,
      (0L until 200L).map(i => s"$i,${i % 10}").mkString("\n"))
    KvCommands.bulkLoadCsv(spark, "file:" + csv, "pk LONG, v LONG",
      dir, Seq("pk"))
    val v1 = KvCommands.snapshots(dir).last
    assert(KvCommands.table(spark, dir).count() == 200)

    // upsert append (second generation, overlapping keys)
    KvCommands.append(spark.range(100, 300)
      .select(col("id").as("pk"), lit(99L).as("v")), dir)
    // row-level DML
    KvCommands.update(spark, dir, col("pk") < 10, Map("v" -> lit(7L)))
    KvCommands.delete(spark, dir, col("pk") >= 290)
    val cur = KvCommands.table(spark, dir)
    assert(cur.count() == 290)
    assert(cur.filter(col("pk") === 5).select("v").head().getLong(0) == 7L)
    assert(cur.filter(col("pk") === 150).select("v").head().getLong(0) == 99L)

    // a secondary index builds, syncs, and serves on the scheme path
    KvIndex.create(spark, dir, "iv", Seq("v"))
    assert(KvIndex.get(dir, "iv").exists(KvIndex.inSync(dir, _)))
    // 10 updated rows (pk < 10) + the 9 untouched pk%10==7 originals
    assert(KvCommands.table(spark, dir).filter(col("v") === 7L)
      .count() == 19)

    // time travel: the bulk-load snapshot still reads exactly
    assert(KvCommands.tableAsOf(spark, dir, v1).count() == 200)
    assert(KvCommands.tableAsOf(spark, dir, v1)
      .filter(col("pk") === 5).select("v").head().getLong(0) == 5L)

    // compaction reorganizes through the scheme path; live rows and
    // history both survive
    assert(KvCommands.compactMinor(spark, dir, retainReplacedMs = 3600000L) > 0)
    assert(KvCommands.table(spark, dir).count() == 290)
    assert(KvCommands.tableAsOf(spark, dir, v1).count() == 200)

    // vacuum with a zero window reclaims the replaced segments; the
    // live table is untouched
    assert(KvCommands.sweepUnmanifested(dir, 0L) > 0)
    assert(KvCommands.table(spark, dir).count() == 290)
    val liveAgain = KvCommands.table(spark, dir)
      .agg(sum("v")).head().getLong(0)
    assert(liveAgain ==
      (0L until 10L).map(_ => 7L).sum +
        (10L until 100L).map(_ % 10).sum + (100L until 290L).map(_ => 99L).sum)
    SidecarFs.deleteRecursively(root)
  }

  test("cross-process CAS appenders and stream-sink epoch replay on a " +
      "file: URI") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.connector._
    val root = schemeTmp("kvxs")
    val path = root + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v STRING")
    KvCommands.createTable(Seq((-1L, "seed")).toDF("k", "v"), path, Seq("k"))
    // TWO forked-JVM appenders committing disjoint ranges through the
    // manifest CAS on the SCHEME path — the hard-link/create-if-absent
    // arbitration must work through Hadoop resolution
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def appender(tag: String, lo: Long): Process =
      new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.connector.KvCrossProcessMain", path, tag, lo.toString,
        "50", "10").redirectErrorStream(true).start()
    val c1 = appender("c1", 0L)
    val c2 = appender("c2", 1000000L)
    Seq(c1, c2).foreach { c =>
      assert(c.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM timed out")
      assert(c.exitValue() == 0, "child JVM failed")
    }
    assert(KvCommands.table(spark, path).count() == 1L + 500L + 500L)

    // stream-sink epoch markers on the scheme path: a replayed epoch
    // with fresh duplicate files must route to a sweep, not re-append
    val p2 = root + "/replay"
    val sw = new GraftKvStreamingWrite(p2, schema, Seq("k"),
      graft.store.RowCodec.Binary, "q1")
    def epochMsg(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = new GraftKvStreamingWriterFactory(
        p2, schema, Seq("k"), graft.store.RowCodec.Binary, 0L)
        .createWriter(0, 0L, 5L)
      Seq(1L -> "a", 2L -> "b").foreach { case (k, v) =>
        w.write(InternalRow(k, UTF8String.fromString(v)))
      }
      w.commit()
    }
    sw.commit(5L, Array(epochMsg()))
    assert(KvCommands.table(spark, p2).count() == 2)
    sw.commit(5L, Array(epochMsg())) // the replay
    assert(KvCommands.table(spark, p2).count() == 2,
      "replayed epoch must not double-append on a scheme path")
    SidecarFs.deleteRecursively(root)
  }

  test("catalog on a file: root — create, insert, rename, drop") {
    val root = schemeTmp("kvcat")
    val cat = "graft_scheme_" + root.hashCode.toHexString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.connector.GraftKvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key'='k')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 2)
    // the RENAME TO target is an identifier WITHIN the source catalog
    // (a catalog prefix would be taken as a namespace level)
    spark.sql(s"ALTER TABLE $cat.db.t RENAME TO db.t2")
    assert(spark.sql(s"SELECT v FROM $cat.db.t2 WHERE k = 2")
      .head().getString(0) == "b")
    spark.sql(s"DROP TABLE $cat.db.t2")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").count() == 0)
    SidecarFs.deleteRecursively(root)
  }
}
