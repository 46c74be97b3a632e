package graft.connector

import graft.TestSpark
import graft.store.SegmentFile
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A rewrite (compaction) is an ordinary kv write that names the files it
  * replaces (`replace=<files>`): its commit swaps exactly those files for
  * its output through the same manifest CAS as any append, so commits
  * that land meanwhile survive, and a rewrite whose inputs were replaced
  * first publishes nothing. */
class KvRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpTable(): String =
    Files.createTempDirectory("graft_rewrite").toString + "/t"

  /** A table of two overlapping segments: keys 0..99 at "a", then 0..49 at "b". */
  private def twoSegments(): String = {
    val path = tmpTable()
    KvCommands.createTable(
      spark.range(100).select(col("id").as("k"), lit("a").as("v")), path, Seq("k"))
    KvCommands.append(
      spark.range(50).select(col("id").as("k"), lit("b").as("v")), path)
    path
  }

  private def live(path: String): Set[String] = SegmentFile.readManifest(path).get

  private def kvFiles(path: String): Set[String] =
    new java.io.File(path).list().filter(_.endsWith(".kv")).toSet

  private def rows(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def rewrite(df: DataFrame, path: String, replaced: Set[String]): Unit =
    df.write.format("graftkv").option("replace", replaced.mkString(","))
      .mode("append").save(path)

  test("major compaction leaves the pre-compaction snapshot readable") {
    val path = twoSegments()
    val before = KvCommands.snapshots(path).last
    val want = rows(KvCommands.table(spark, path))
    assert(want.size == 100)
    KvCommands.compact(spark, path)
    assert(KvCommands.overlapDepth(path) == 1)
    assert(rows(KvCommands.table(spark, path)) == want)
    assert(KvCommands.tableAsOf(spark, path, before).count() == 100)
    assert(rows(KvCommands.tableAsOf(spark, path, before)) == want)
  }

  test("a rewrite keeps a commit that landed after its read was built") {
    val path = twoSegments()
    val replaced = live(path)
    val gens = SegmentFile.listSegments(path).map(_.gen)
    val read = spark.read.format("graftkv")
      .option("files", replaced.mkString(",")).load(path)
    KvCommands.append(
      spark.range(100, 110).select(col("id").as("k"), lit("c").as("v")), path)
    val inserted = live(path) -- replaced
    rewrite(read, path, replaced)
    val after = SegmentFile.listSegments(path)
    assert(inserted.subsetOf(after.map(_.file).toSet))
    assert(after.map(_.file).toSet.intersect(replaced).isEmpty)
    // the rewrite's output keeps its inputs' newest generation
    assert(after.filterNot(m => inserted(m.file)).map(_.gen).toSet ==
      Set(gens.max))
    val got = rows(KvCommands.table(spark, path))
    assert(got.size == 110)
    assert((100L until 110L).forall(k => got(k) == "c"))
    assert(got(0L) == "b" && got(99L) == "a")
  }

  test("a rewrite whose replaced file is no longer live publishes nothing") {
    // replaced before the second rewrite was planned: it fails at once
    val path = twoSegments()
    val v0 = KvCommands.snapshots(path).last
    val replaced = live(path)
    rewrite(spark.read.format("graftkv")
      .option("files", replaced.mkString(",")).load(path), path, replaced)
    val (head, files) = (KvCommands.snapshots(path).last, kvFiles(path))
    intercept[GraftKvRewriteConflict](
      rewrite(KvCommands.tableAsOf(spark, path, v0), path, replaced))
    assert(KvCommands.snapshots(path).last == head)
    assert(kvFiles(path) == files)

    // replaced while the rewrite's job ran: its commit loses the CAS and
    // Spark's abort deletes the files it wrote
    val path2 = twoSegments()
    val vAppend = KvCommands.snapshots(path2).last
    val replaced2 = live(path2)
    val files2 = kvFiles(path2)
    KvRewriteSpec.rival.set(() => KvCommands.restoreTable(path2, vAppend - 1))
    val fire = udf { (k: Long) =>
      Option(KvRewriteSpec.rival.getAndSet(null)).foreach(_())
      k
    }.asNondeterministic()
    val read = spark.read.format("graftkv")
      .option("files", replaced2.mkString(",")).load(path2)
    intercept[GraftKvRewriteConflict](
      rewrite(read.select(fire(col("k")).as("k"), col("v")), path2, replaced2))
    assert(KvRewriteSpec.rival.get() == null, "the rival commit never ran")
    // only the rival restore (to CREATE's "a"-only snapshot) published
    assert(KvCommands.snapshots(path2).last == vAppend + 1)
    assert(kvFiles(path2) == files2)
    assert(rows(KvCommands.table(spark, path2)).values.toSet == Set("a"))
  }
}

object KvRewriteSpec {
  /** A commit that runs inside the rewrite's job, once. */
  val rival = new AtomicReference[() => Unit]()
}
