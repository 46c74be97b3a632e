package graft.connector

import graft.TestSpark
import graft.io.SidecarFs
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The manifest is a table's only metadata authority, found from the
  * durable head hint by existence probes: commits, plans and history
  * reads never list the table directory. Only the retention sweep
  * (COMPACT's, VACUUM's and an overwrite's) lists it, once. */
class KvListingSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graftls", classOf[GraftKvCatalog].getName)
    s.conf.set("spark.sql.catalog.graftls.root",
      Files.createTempDirectory("graft_listing").toString)
    s
  }

  /** The body's result and the directory listings it took. */
  private def listings[T](body: => T): (T, Long) = {
    val before = SidecarFs.listCalls.get()
    val r = body
    (r, SidecarFs.listCalls.get() - before)
  }

  test("DML, reads and history list nothing; COMPACT and VACUUM list once") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftls.db")
    spark.sql("CREATE TABLE graftls.db.t (k BIGINT, v STRING, n INT) " +
      "TBLPROPERTIES ('key'='k')")
    val t = "graftls.db.t"
    def answers(): (String, Seq[Long], (Long, Long)) = {
      val point = spark.sql(s"SELECT v FROM $t WHERE k = 2").head().getString(0)
      val range = spark.sql(s"SELECT k FROM $t WHERE k BETWEEN 2 AND 3 ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      val agg = spark.sql(s"SELECT count(*), sum(n) FROM $t").head()
      (point, range, (agg.getLong(0), agg.getLong(1)))
    }
    val want = ("B", Seq(2L, 3L), (3L, 21L + 31L + 40L))
    val ((got, snapshots), dml) = listings {
      spark.sql(s"INSERT INTO $t VALUES (1, 'a', 10), (2, 'b', 20)")
      spark.sql(s"INSERT INTO $t VALUES (2, 'B', 21), (3, 'c', 30)")
      spark.sql(s"INSERT INTO $t SELECT 4, 'd', 40")
      spark.sql(s"DELETE FROM $t WHERE k = 1")
      spark.sql(s"UPDATE $t SET n = n + 1 WHERE k = 3")
      (answers(), spark.sql(s"SELECT version FROM $t.snapshots").count())
    }
    assert(got == want)
    assert(snapshots == 6) // the empty seed + five commits
    assert(dml == 0, s"DML and reads listed the table directory $dml times")

    val (compacted, compactLists) =
      listings(spark.sql(s"COMPACT TABLE $t").head().getInt(0))
    assert(compacted > 0)
    // the rewrite commits like any append; the only listing is the sweep
    assert(compactLists == 1, s"COMPACT listed $compactLists times")
    val (_, majorLists) =
      listings(spark.sql(s"COMPACT TABLE $t MAJOR").collect())
    assert(majorLists == 1, s"COMPACT MAJOR listed $majorLists times")
    val (_, vacuumLists) =
      listings(spark.sql(s"VACUUM TABLE $t RETAIN 0 MINUTES").collect())
    assert(vacuumLists == 1, s"VACUUM listed $vacuumLists times")
    assert(answers() == want)
    // an overwrite of a populated table replaces through the same CAS;
    // its one listing is the sweep that reclaims what it replaced
    val (_, overwriteLists) =
      listings(spark.sql(s"INSERT OVERWRITE $t VALUES (5, 'e', 50)"))
    assert(overwriteLists == 1, s"INSERT OVERWRITE listed $overwriteLists times")
    assert(spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).toSeq ==
      Seq(5L))
    spark.sql(s"DROP TABLE $t")
  }

  test("createTable at a fresh path lists nothing") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_listing_fresh").toString + "/t"
    val (_, lists) = listings(KvCommands.createTable(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, Seq("k")))
    assert(lists == 0, s"createTable at a fresh path listed $lists times")
    assert(KvCommands.table(spark, path).count() == 2)
  }
}
