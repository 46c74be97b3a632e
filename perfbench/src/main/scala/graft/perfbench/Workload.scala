package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.StructType

/** Where a run keeps its inputs and tables. */
final case class Ctx(spark: SparkSession, dataDir: String, kvRoot: String,
    scale: Double, seed: Long) {
  def parquet(table: String): String = Data.path(dataDir, table)
  def source(table: String): DataFrame = spark.read.parquet(parquet(table))

  /** `compute`, evaluated once per generated data set and kept beside
    * it: the oracle's answers depend only on the data, so later runs in
    * the same checkout read them back instead of recomputing. */
  def memo[T](name: String)(compute: => T): T = {
    val f = new java.io.File(s"$dataDir/oracle/$name.bin")
    if (f.exists()) {
      val in = new java.io.ObjectInputStream(new java.io.FileInputStream(f))
      try in.readObject().asInstanceOf[T] finally in.close()
    } else {
      val v = compute
      f.getParentFile.mkdirs()
      val tmp = new java.io.File(f.getPath + s".${ProcessHandle.current().pid()}")
      val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(tmp))
      try out.writeObject(v) finally out.close()
      tmp.renameTo(f)
      v
    }
  }
}

/** Timed parts of one set-up: bulk loads, index builds, rows loaded. */
final case class SetupCost(loadS: Double, indexS: Double, rows: Long)

/** One closed-loop operation. `cls` is its latency class (lookup,
  * query, write, compact); `kind` the finer type its median is taken
  * over. `before` runs untimed (it stages a batch's rows); `run` is the
  * timed call; `check` compares the answer with the independent one and
  * returns what differs. */
final class Op(val kind: String, val cls: String, val desc: String,
    val run: Client => Seq[Row], val check: Seq[Row] => Option[String],
    val writes: Boolean = false, val before: () => Unit = () => ())

abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Operations in one round of the stream. A round holds the workload's
    * whole operation mix, and warm-up and timed phases end only on round
    * boundaries, so every run measures the same mix whatever its seed. */
  def round: Int
  /** Creates the workload's tables and indexes in catalog namespace
    * `ns`; the last namespace set up is the one operations run against. */
  def setup(ns: String): SetupCost
  /** Builds the independent answers from the source parquet with stock
    * Spark or in driver memory. Not timed. */
  def prepare(): Unit
  /** The operation stream a seeded generator yields; lazy, so an
    * operation may depend on the answers checked before it. */
  def ops(rng: scala.util.Random): Iterator[Op]
  /** Checks made once after the timed phase. */
  def finalChecks(): Seq[(String, Option[String])] = Nil
  /** Directories holding the workload's stored data. */
  def dataDirs: Seq[String]
  def liveRows: Long
  /** Bytes of user rows one set-up loads, and of those written since
    * the last set-up began, measured as Spark's UnsafeRow size — a
    * yardstick independent of the engine's own encoding. */
  var loadBytes = 0L
  var userBytes = 0L

  protected def spark: SparkSession = ctx.spark
  protected var ns: String = _
  protected def t(table: String): String = s"graft.$ns.$table"
  protected def dir(table: String): String = s"${ctx.kvRoot}/$ns/$table"

  /** Bulk load through the catalog: CREATE TABLE … AS SELECT over the
    * source parquet, which runs the engine's range-shuffled sorted write. */
  protected def load(table: String, keys: String,
      props: Map[String, String] = Map.empty): Unit = {
    val p = (Map("key" -> keys) ++ props).map { case (k, v) => s"'$k'='$v'" }
      .mkString(", ")
    spark.sql(s"CREATE TABLE ${t(table)} TBLPROPERTIES ($p) AS " +
      s"SELECT * FROM parquet.`${ctx.parquet(table)}`")
  }

  protected def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  val Names: Seq[String] = Seq("kv_point", "kv_analytic", "kv_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kv_point" => new KvPoint(ctx)
    case "kv_analytic" => new KvAnalytic(ctx)
    case "kv_ingest" => new KvIngest(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** A value in the form both sides of a check print it: decimals
    * without trailing zeros, so a scale difference is not a mismatch. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def canonRows(rows: Seq[Row]): Seq[String] = rows.map(canon)

  /** None when equal, else the first difference. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val i = got.zipAll(want, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      Some(s"row $i: got ${got.lift(i).getOrElse("<none>")}, " +
        s"want ${want.lift(i).getOrElse("<none>")} (${got.size} vs ${want.size} rows)")
    }

  /** UnsafeRow bytes of `df`'s rows, summed by a Spark job. */
  def rowBytes(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map(r => proj(r).getSizeInBytes.toLong)
    }.fold(0L)(_ + _)
  }

  /** UnsafeRow bytes of rows held on the driver. */
  def rowBytes(rows: Seq[Row], schema: StructType): Long = {
    val proj = UnsafeProjection.create(schema)
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => proj(conv(r).asInstanceOf[InternalRow]).getSizeInBytes.toLong).sum
  }
}
