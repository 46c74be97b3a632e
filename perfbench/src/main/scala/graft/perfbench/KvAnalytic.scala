package graft.perfbench

/** Round-robin of TPC-H-shaped SQL over kv tables — a Q1 full-scan
  * aggregate, a Q6 range filter, Q3 and Q5 joins (where runtime
  * filtering prunes the lineitem scan), a whole-table aggregate the
  * connector answers from segment metadata — and of the pipeline entry
  * points ([[PipelineOps]]). Scan decode, exchange, operators and the
  * pipeline functions dominate; planning is a small share. */
final class KvAnalytic(ctx: Ctx) extends Workload(ctx) {
  def name = "kv_analytic"
  def round = pool.size + pipeline.kinds.size

  private val pipeline = new PipelineOps(ctx)

  /** Parameter variants per query; each operation's seed picks one. */
  private val Variants = 4
  private val Keys = Seq("lineitem" -> "l_orderkey,l_linenumber",
    "orders" -> "o_orderkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "nation" -> "n_nationkey", "region" -> "r_regionkey")

  /** (kind, SQL over tables named by `tbl`). */
  private type Query = (String, (String => String) => String)
  private var pool: Seq[Seq[Query]] = Nil
  private var answers: Map[String, Seq[String]] = Map.empty
  private var rows = 0L

  def dataDirs: Seq[String] = Keys.map(k => dir(k._1)) ++ pipeline.dataDirs
  def liveRows: Long = rows + pipeline.liveRows

  private def q1(delta: Int): Query = ("q1", tbl => s"""
    SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
      sum(l_extendedprice * (1 - l_discount)),
      sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
      avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
    FROM ${tbl("lineitem")}
    WHERE l_shipdate <= date_sub(DATE '1998-12-01', $delta)
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")

  private def q6(year: Int, disc: Int, qty: Int): Query = ("q6", tbl => s"""
    SELECT sum(l_extendedprice * l_discount) FROM ${tbl("lineitem")}
    WHERE l_shipdate >= DATE '$year-01-01' AND l_shipdate < DATE '${year + 1}-01-01'
      AND l_discount BETWEEN ${disc - 1} / 100.0 AND ${disc + 1} / 100.0
      AND l_quantity < $qty""")

  private def q3(segment: String, day: Int): Query = ("q3", tbl => s"""
    SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
      o_orderdate, o_orderpriority
    FROM ${tbl("customer")}, ${tbl("orders")}, ${tbl("lineitem")}
    WHERE c_mktsegment = '$segment' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < date_add(DATE '1995-03-01', $day)
      AND l_shipdate > date_add(DATE '1995-03-01', $day)
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")

  private def q5(region: String, year: Int): Query = ("q5", tbl => s"""
    SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
    FROM ${tbl("customer")}, ${tbl("orders")}, ${tbl("lineitem")},
      ${tbl("supplier")}, ${tbl("nation")}, ${tbl("region")}
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = '$region'
      AND o_orderdate >= DATE '$year-01-01' AND o_orderdate < DATE '${year + 1}-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name""")

  private val meta: Query = ("meta", tbl =>
    s"SELECT count(*), min(l_orderkey), max(l_orderkey) FROM ${tbl("lineitem")}")

  def setup(ns: String): SetupCost = {
    this.ns = ns
    val loadS = timeS(Keys.foreach { case (table, keys) => load(table, keys) })
    SetupCost(loadS, timeS(pipeline.setup(ns)), rows)
  }

  def prepare(): Unit = {
    // the variants are fixed per data set, so their answers are computed once
    val rng = new scala.util.Random(Data.Version)
    pool = Seq(
      Seq.fill(Variants)(q1(60 + rng.nextInt(61))),
      Seq.fill(Variants)(q6(1993 + rng.nextInt(5), 2 + rng.nextInt(8), 24 + rng.nextInt(2))),
      Seq.fill(Variants)(q3(Data.Segments(rng.nextInt(5)), rng.nextInt(31))),
      Seq.fill(Variants)(q5(Data.Regions(rng.nextInt(5)), 1993 + rng.nextInt(5))),
      Seq(meta))
    val texts = pool.flatten.map(_._2(tb => s"src_$tb"))
    val (a, r, b) = ctx.memo(s"kv_analytic-${texts.mkString.hashCode}") {
      Keys.foreach { case (table, _) => ctx.source(table).createOrReplaceTempView(s"src_$table") }
      (texts.map(q => q -> Workload.canonRows(spark.sql(q).collect().toSeq).toList).toMap,
        Keys.map(k => ctx.source(k._1).count()).sum,
        Keys.map(k => Workload.rowBytes(ctx.source(k._1))).sum)
    }
    answers = a; rows = r
    pipeline.prepare()
    loadBytes = b + pipeline.loadBytes
  }

  /** Each round runs every query shape and pipeline call once, in a
    * seeded order. */
  def ops(rng: scala.util.Random): Iterator[Op] =
    Iterator.continually(rng.shuffle(pool.map(Left(_)) ++ pipeline.kinds.map(Right(_))))
      .flatten.map {
        case Left(variants) =>
          val (kind, sql) = variants(rng.nextInt(variants.size))
          val want = answers(sql(tb => s"src_$tb"))
          val text = sql(t)
          new Op(kind, "query", text.replaceAll("\\s+", " ").trim,
            _.query(text), got => Workload.diff(Workload.canonRows(got), want))
        case Right(kind) => pipeline.op(kind, rng)
      }
}
