package graft.connector

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The kv streaming SOURCE (readStream side; streamIntoKv is the sink):
  * a change feed of upserted rows keyed on commit generations. Pins the
  * offset semantics — snapshot first, appends incrementally, upserts
  * re-emit with new values, deletes emit nothing, compaction re-emits
  * nothing (its outputs keep their inputs' generation). */
class KvStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // both codecs: the change-feed windows resolve key identity through the
  // table comparator, which is typed (not byte-wise) under stringformat
  for (enc <- Seq(graft.store.RowCodec.Binary, graft.store.RowCodec.StringFormat))
  test(s"readStream: snapshot, appends, upserts, deletes, compaction ($enc)") {
    val path = Files.createTempDirectory(s"graftkv_stream_src_$enc").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      Seq("k"), enc)

    val q = spark.readStream.format("graftkv").load(path)
      .writeStream.format("memory").queryName(s"kv_src_sink_$enc")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_ckpt").toString)
      .start()
    try {
      def rows(): Seq[(Long, String)] = {
        q.processAllAvailable()
        spark.table(s"kv_src_sink_$enc").as[(Long, String)].collect().toSeq.sorted
      }
      assert(rows() == Seq((1L, "a"), (2L, "b"))) // initial snapshot

      KvCommands.append(Seq((3L, "c")).toDF("k", "v"), path)
      assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))

      // upsert: the key re-emits with its new value (change feed)
      KvCommands.append(Seq((2L, "b2")).toDF("k", "v"), path)
      assert(rows() == Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c")))

      // delete: the tombstone commit emits nothing
      KvCommands.delete(spark, path, col("k") === 1L)
      assert(rows().length == 4)

      // compaction reorganizes all of the above; nothing re-emits
      assert(KvCommands.compactMinor(spark, path) > 0)
      assert(rows().length == 4)

      // and the table still streams after it
      KvCommands.append(Seq((9L, "z")).toDF("k", "v"), path)
      assert(rows() == Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c"), (9L, "z")))
    } finally q.stop()
  }

  test("an overwrite and the append after it both stream") {
    val path = Files.createTempDirectory("graftkv_stream_ow").toString + "/t"
    KvCommands.createTable(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      path, Seq("k"))
    val q = spark.readStream.format("graftkv").load(path)
      .writeStream.format("memory").queryName("kv_src_overwrite")
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_ow_ckpt").toString)
      .start()
    try {
      def rows(): Seq[(Long, String)] = {
        q.processAllAvailable()
        spark.table("kv_src_overwrite").as[(Long, String)].collect().toSeq.sorted
      }
      assert(rows().length == 3)
      // the overwrite commits at the next generation, like an append
      KvCommands.createTable(Seq((4L, "d")).toDF("k", "v"), path, Seq("k"))
      assert(rows().length == 4)
      KvCommands.append(Seq((5L, "e")).toDF("k", "v"), path)
      assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces a backlog commit-by-commit") {
    val path = Files.createTempDirectory("graftkv_stream_adm").toString + "/t"
    KvCommands.createTable(Seq((0L, "s")).toDF("k", "v"), path, Seq("k"))
    // backlog of 4 more commits BEFORE the stream starts
    (1 to 4).foreach(i => KvCommands.append(Seq((i.toLong, s"v$i")).toDF("k", "v"), path))

    val q = spark.readStream.format("graftkv")
      .option("maxFilesPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("kv_src_paced")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_admckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("kv_src_paced").as[(Long, String)].collect().toSeq.sorted
      assert(got.map(_._1) == (0L to 4L)) // everything arrives...
      // ...but paced: one commit (generation) per micro-batch
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 5,
        s"expected >=5 paced batches, got ${batches.length}")
    } finally q.stop()
  }

  test("fuzz: random upserts/deletes/compactions under a live stream") {
    // Batch boundaries are nondeterministic (continuous trigger), so the
    // invariants must hold under ANY commit grouping:
    //  (a) every emitted row is a value some upsert actually wrote;
    //  (b) for every key whose final action was an upsert, the LAST
    //      emission of that key is its final value (deletes may leave a
    //      stale last emission — an append-only feed has no retractions).
    val path = Files.createTempDirectory("graftkv_stream_fuzz").toString + "/t"
    val rnd = new scala.util.Random(777)
    val model = scala.collection.mutable.Map.empty[Long, String]
    val legal = scala.collection.mutable.Set.empty[(Long, String)]
    def batch(): Seq[(Long, String)] =
      Seq.fill(rnd.nextInt(30) + 5)(
        (rnd.nextLong(60), s"v${rnd.nextInt(100000)}"))
        .groupBy(_._1).map(_._2.head).toSeq
    val initial = batch()
    initial.foreach { case (k, v) => model(k) = v; legal += ((k, v)) }
    KvCommands.createTable(initial.toDF("k", "v"), path, Seq("k"))

    val feed = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Long, String])]
    val q = spark.readStream.format("graftkv").load(path)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_fuzzckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        feed.synchronized { feed += ((id, rows)) }
        ()
      }
      .start()
    try {
      for (step <- 0 until 15) {
        rnd.nextInt(5) match {
          case 0 | 1 | 2 => // upsert append
            val b = batch()
            b.foreach { case (k, v) => model(k) = v; legal += ((k, v)) }
            KvCommands.append(b.toDF("k", "v"), path)
          case 3 => // range delete
            val lo = rnd.nextLong(60)
            val hi = lo + rnd.nextLong(20)
            model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
            KvCommands.delete(spark, path, col("k").between(lo, hi))
          case 4 => // compaction mid-stream (default retention keeps
            // replaced files for in-flight readers)
            KvCommands.compactMinor(spark, path)
        }
        if (rnd.nextInt(3) == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      val byBatch = feed.synchronized { feed.sortBy(_._1).toVector }
      val allEmitted = byBatch.flatMap(_._2)
      assert(allEmitted.forall(legal.contains),
        "feed fabricated a row no upsert ever wrote")
      val lastEmission: Map[Long, String] =
        byBatch.foldLeft(Map.empty[Long, String])((acc, b) => acc ++ b._2)
      // (b): model keys are exactly the ones whose final action was an
      // upsert; each must have its final value as its last emission
      model.foreach { case (k, v) =>
        assert(lastEmission.get(k).contains(v),
          s"key $k: last emission ${lastEmission.get(k)} != final value $v")
      }
      // and the table itself still matches the model (sanity)
      val tbl = KvCommands.table(spark, path).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(tbl == model.toMap)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the start-time backlog and stops") {
    val path = Files.createTempDirectory("graftkv_stream_an").toString + "/t"
    KvCommands.createTable(Seq((1L, "a")).toDF("k", "v"), path, Seq("k"))
    KvCommands.append(Seq((2L, "b")).toDF("k", "v"), path)

    val q = spark.readStream.format("graftkv")
      .option("maxFilesPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("kv_src_an")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_anckpt").toString)
      .start()
    // a commit AFTER query start must not be drained by this run
    KvCommands.append(Seq((3L, "c")).toDF("k", "v"), path)
    assert(q.awaitTermination(60000), "AvailableNow query did not terminate")
    val got = spark.table("kv_src_an").as[(Long, String)].collect().map(_._1).sorted.toSeq
    // 1 and 2 were present at start; 3 raced the prepare call — it may
    // only appear if its commit landed before the offset was pinned
    assert(got.startsWith(Seq(1L, 2L)) && got.length <= 3)
  }

  test("pushed filters and pruning apply per batch") {
    val path = Files.createTempDirectory("graftkv_stream_f").toString + "/t"
    KvCommands.createTable(
      spark.range(100).select(col("id").as("k"), (col("id") % 10).as("v")),
      path, Seq("k"))
    val q = spark.readStream.format("graftkv").load(path)
      .filter(col("k") >= 90).select("k")
      .writeStream.format("memory").queryName("kv_src_filtered")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graftkv_stream_fckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      def got(): Seq[Long] =
        spark.table("kv_src_filtered").as[Long].collect().toSeq.sorted
      assert(got() == (90L until 100L))
      KvCommands.append(
        Seq((50L, 0L), (95L, 1L), (150L, 2L)).toDF("k", "v"), path)
      q.processAllAvailable()
      assert(got() == ((90L until 100L) :+ 95L :+ 150L).sorted)
    } finally q.stop()
  }
}
