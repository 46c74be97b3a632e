package graft.perfbench

import org.apache.spark.sql.Row
import scala.collection.mutable

/** Writes beside reads on one fresh orders-derived kv table. Upserts
  * arrive through SQL INSERT INTO … SELECT in 1-row and ~2k-row batches,
  * DELETE FROM removes key lists, point lookups follow every commit and
  * a minor COMPACT TABLE runs every few commits. Every answer is checked
  * against an in-memory key → row model, and the run ends with a
  * full-table checksum. Each commit invalidates the metadata the reads
  * cached, so reads here run against cold metadata. */
final class KvIngest(ctx: Ctx) extends Workload(ctx) {
  def name = "kv_ingest"
  def round = Cycle.size * (1 + LookupsPerCommit) + 1

  private val BatchRows = 2000
  /** Share of a batch that updates existing keys; the rest are new keys. */
  private val BatchUpdateShare = 0.75
  private val DeleteKeys = 20
  private val LookupsPerCommit = 2

  private val nOrders = Data.sizes(ctx.scale).orders
  private var initial: Seq[Row] = Nil
  private var schema: org.apache.spark.sql.types.StructType = _
  private val model = mutable.HashMap.empty[Long, Row]
  // keys ever written (live or deleted), sampled for lookups and deletes
  private val known = mutable.ArrayBuffer.empty[Long]
  private val knownSet = mutable.HashSet.empty[Long]
  private var batchId = 0

  def dataDirs: Seq[String] = Seq(dir("orders"))
  def liveRows: Long = model.size.toLong

  def setup(ns: String): SetupCost = {
    this.ns = ns
    val s = timeS(load("orders", "o_orderkey"))
    model.clear(); known.clear(); knownSet.clear()
    initial.foreach { r => model(r.getLong(0)) = r; known += r.getLong(0) }
    knownSet ++= known
    SetupCost(s, 0.0, initial.size.toLong)
  }

  def prepare(): Unit = {
    val o = ctx.source("orders")
    schema = o.schema
    val (rows, bytes) = ctx.memo("kv_ingest") {
      val rows = o.collect().toList
      (rows, Workload.rowBytes(rows, schema))
    }
    initial = rows; loadBytes = bytes
  }

  /** A key not yet written: inside a gap between runs of 8 keys. */
  private def freshKey(rng: scala.util.Random): Long = {
    var k = 0L
    while ({ k = rng.nextLong(nOrders / 8 + 1) * 32 + 9 + rng.nextInt(24); model.contains(k) }) ()
    k
  }

  private def row(rng: scala.util.Random, key: Long): Row = Row(key,
    1L + rng.nextInt(Data.sizes(ctx.scale).customers.toInt),
    if (rng.nextBoolean()) "O" else "F",
    java.math.BigDecimal.valueOf(100000L + rng.nextInt(50000000), 2),
    java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1).plusDays(rng.nextInt(2405))),
    Data.Priorities(rng.nextInt(5)))

  private def lit(v: Any): String = v match {
    case s: String => s"'$s'"
    case d: java.math.BigDecimal => s"${d.toPlainString}BD"
    case d: java.sql.Date => s"DATE '$d'"
    case l: Long => s"${l}L"
    case other => other.toString
  }

  private def upsert(rows: Seq[Row]): Unit = {
    rows.foreach { r =>
      val k = r.getLong(0)
      model(k) = r
      if (knownSet.add(k)) known += k
    }
    userBytes += Workload.rowBytes(rows, schema)
  }

  private def lookup(key: Long): Op = {
    val want = model.get(key).map(Workload.canon).toSeq
    new Op("lookup", "lookup", s"lookup $key",
      _.query(s"SELECT * FROM ${t("orders")} WHERE o_orderkey = $key"),
      got => Workload.diff(Workload.canonRows(got), want))
  }

  /** The commits of one cycle; a cycle runs them in a seeded order and
    * ends with a minor compaction, so every run sees the same write mix. */
  private val Cycle = Seq("upsert1", "upsert1", "upsert1", "upsert_batch", "delete", "delete")

  /** One commit, then lookups of a key it touched and of a random key. */
  private def commit(kind: String, rng: scala.util.Random): Iterator[Op] = {
    val (write, touched): (Op, Long) = kind match {
      case "upsert1" =>
        val key = if (rng.nextBoolean()) known(rng.nextInt(known.size)) else freshKey(rng)
        val r = row(rng, key)
        (new Op(kind, "write", s"upsert1 $r",
          _.command(s"INSERT INTO ${t("orders")} SELECT " + r.toSeq.map(lit).mkString(", ")),
          _ => { upsert(Seq(r)); None }, writes = true), key)
      case "upsert_batch" =>
        batchId += 1
        val view = s"ingest_batch_$batchId"
        val start = rng.nextLong(math.max(1L, nOrders - BatchRows))
        val keys = (0 until BatchRows).map { i =>
          if (rng.nextDouble() < BatchUpdateShare) Data.orderKey(start + i) else freshKey(rng)
        }.distinct
        val rows = keys.map(row(rng, _))
        (new Op(kind, "write", s"upsert_batch ${keys.head} ${keys.size}",
          _.command(s"INSERT INTO ${t("orders")} SELECT * FROM $view"),
          _ => { upsert(rows); spark.catalog.dropTempView(view); None }, writes = true,
          before = () => spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView(view)),
          keys(rng.nextInt(keys.size)))
      case "delete" =>
        val keys = Seq.fill(DeleteKeys - 4)(known(rng.nextInt(known.size))) ++
          Seq.fill(4)(freshKey(rng))
        (new Op(kind, "write", s"delete ${keys.mkString(",")}",
          _.command(s"DELETE FROM ${t("orders")} WHERE o_orderkey IN (${keys.mkString(", ")})"),
          _ => { keys.foreach(model.remove); None }, writes = true), keys.head)
    }
    // lookups are built lazily, after the writes before them are checked
    Iterator(write) ++ Iterator.tabulate(LookupsPerCommit)(i =>
      lookup(if (i == 0) touched
        else if (rng.nextDouble() < 0.9) known(rng.nextInt(known.size))
        else freshKey(rng)))
  }

  private def compact: Op = new Op("compact", "compact", "compact",
    _.command(s"COMPACT TABLE ${t("orders")}"), _ => None, writes = true)

  def ops(rng: scala.util.Random): Iterator[Op] =
    Iterator.continually(rng.shuffle(Cycle)).flatMap(cycle =>
      cycle.iterator.flatMap(commit(_, rng)) ++ Iterator(compact))

  /** Full-table checksum: row count and an order-free xor of row hashes,
    * computed the same way by the engine over the kv table and by stock
    * Spark over the model's rows. */
  override def finalChecks(): Seq[(String, Option[String])] = {
    val sql = (from: String) => "SELECT count(*), bit_xor(xxhash64(o_orderkey, o_custkey, " +
      s"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)) FROM $from"
    spark.createDataFrame(java.util.Arrays.asList(model.values.toSeq: _*), schema)
      .createOrReplaceTempView("ingest_model")
    val want = Workload.canonRows(spark.sql(sql("ingest_model")).collect().toSeq)
    val got = Workload.canonRows(spark.sql(sql(t("orders"))).collect().toSeq)
    Seq("checksum" -> Workload.diff(got, want))
  }
}
