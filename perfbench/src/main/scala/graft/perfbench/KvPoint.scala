package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Point lookups by full primary key on kv `orders` (about 10% absent
  * keys), interleaved with 200-order key-range scans plus aggregates on
  * kv `lineitem`; both tables are split into many small segments. Driver planning,
  * metadata and key pruning do most of the work; operators do almost
  * none. The tables never change, so the engine's planning caches stay
  * warm. */
final class KvPoint(ctx: Ctx) extends Workload(ctx) {
  def name = "kv_point"
  def round = Cycle.size

  /** Each cycle of 20 operations, in a seeded order: 15 lookups of
    * present keys, 2 of absent keys (about 10%) and 3 range scans. */
  private val Cycle = Seq.fill(15)("present") ++ Seq.fill(2)("absent") ++ Seq.fill(3)("range")
  private val RangeOrders = 200
  /** Target segment counts, so a lookup or range really exercises
    * segment pruning (the reference's bulk-load test used 131 regions). */
  private val LineitemSegments = 160
  private val OrdersSegments = 64

  private val nOrders = Data.sizes(ctx.scale).orders
  private var orders: Map[Long, String] = Map.empty
  // lineitem grouped by order key, ascending, with prefix sums of the
  // row count, quantity, extended price (unscaled cents) and revenue
  private var liKeys: Array[Long] = Array.empty
  private var liCount: Array[Long] = Array.empty
  private var liQty: Array[Long] = Array.empty
  private var liPrice: Array[Long] = Array.empty
  private var liRevenue: Array[Long] = Array.empty // extendedprice × (1 − discount), scale 4
  private var lineitemBytes = 0L
  private var ordersBytes = 0L
  private var lineitemRows = 0L

  def dataDirs: Seq[String] = Seq(dir("orders"), dir("lineitem"))
  def liveRows: Long = orders.size.toLong + liCount.lastOption.getOrElse(0L)

  def setup(ns: String): SetupCost = {
    this.ns = ns
    def segBytes(total: Long, n: Int) = Map("segment.maxbytes" -> math.max(4096L, total / n).toString)
    val s = timeS {
      load("orders", "o_orderkey", segBytes(ordersBytes, OrdersSegments))
      load("lineitem", "l_orderkey,l_linenumber", segBytes(lineitemBytes, LineitemSegments))
    }
    SetupCost(s, 0.0, nOrders + lineitemRows)
  }

  def prepare(): Unit = {
    val (o, keys, cnt, qty, price, rev, oBytes, liBytes) = ctx.memo("kv_point") {
      val src = ctx.source("orders")
      val agg = ctx.source("lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .orderBy("l_orderkey").collect()
      def prefix(f: Row => Long): Array[Long] = agg.map(f).scanLeft(0L)(_ + _)
      def unscaled(d: java.math.BigDecimal, scale: Int = 2): Long =
        d.setScale(scale).unscaledValue.longValueExact
      (src.collect().map(r => r.getLong(0) -> Workload.canon(r)).toMap,
        agg.map(_.getLong(0)), prefix(_.getLong(1)),
        prefix(r => unscaled(r.getDecimal(2))), prefix(r => unscaled(r.getDecimal(3))),
        prefix(r => unscaled(r.getDecimal(4), 4)), Workload.rowBytes(src),
        Workload.rowBytes(ctx.source("lineitem")))
    }
    orders = o; liKeys = keys; liCount = cnt; liQty = qty; liPrice = price; liRevenue = rev
    lineitemRows = cnt.last
    ordersBytes = oBytes
    lineitemBytes = liBytes
    loadBytes = oBytes + liBytes
  }

  private def rank(k: Long): Int = { // count of order keys < k
    val i = java.util.Arrays.binarySearch(liKeys, k)
    if (i >= 0) i else -i - 1
  }

  private def decimal(unscaled: Long, scale: Int): String =
    java.math.BigDecimal.valueOf(unscaled, scale).stripTrailingZeros.toPlainString

  def ops(rng: scala.util.Random): Iterator[Op] =
    Iterator.continually(rng.shuffle(Cycle)).flatten.map(op(_, rng))

  private def op(kind: String, rng: scala.util.Random): Op =
    if (kind != "range") {
      val key =
        if (kind == "absent") {
          // inside a gap between runs of 8 keys, or past the last key
          val run = rng.nextLong(nOrders / 8 + 2)
          run * 32 + 9 + rng.nextInt(24)
        } else Data.orderKey(rng.nextLong(nOrders))
      val want = orders.get(key).toSeq
      new Op("lookup", "lookup", s"lookup $key",
        _.query(s"SELECT * FROM ${t("orders")} WHERE o_orderkey = $key"),
        got => Workload.diff(Workload.canonRows(got), want))
    } else {
      val i = rng.nextLong(nOrders - RangeOrders)
      val (lo, hi) = (Data.orderKey(i), Data.orderKey(i + RangeOrders - 1))
      val (a, b) = (rank(lo), rank(hi + 1))
      val want = Seq(s"[${liCount(b) - liCount(a)},${decimal(liQty(b) - liQty(a), 2)}," +
        s"${decimal(liPrice(b) - liPrice(a), 2)},${decimal(liRevenue(b) - liRevenue(a), 4)}]")
      // the revenue expression keeps the aggregate out of the connector's
      // metadata pushdown, so the scan reads and decodes the range
      new Op("range", "query", s"range $lo $hi",
        _.query(s"SELECT count(*), sum(l_quantity), sum(l_extendedprice), " +
          s"sum(l_extendedprice * (1 - l_discount)) " +
          s"FROM ${t("lineitem")} WHERE l_orderkey BETWEEN $lo AND $hi"),
        got => Workload.diff(Workload.canonRows(got), want))
    }
}
