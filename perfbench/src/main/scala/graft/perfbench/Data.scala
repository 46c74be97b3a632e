package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input tables, generated from hashes of row ids so the
  * same scale always yields byte-identical parquet: a TPC-H-shaped star
  * schema (orders, lineitem, customer, supplier, nation, region), a text
  * corpus with planted near-duplicates, and clustered embeddings.
  *
  * The base data is fixed per scale; a run's `--seed` picks the keys,
  * ranges, batch contents and operation order drawn from it. Money and
  * quantities are DECIMAL so every aggregate answer is exact and can be
  * compared for equality against the stock-Spark oracle. */
object Data {

  /** Bump when the generated content changes: cached data is keyed on it. */
  val Version = 2

  val EmbeddingDim = 64
  val Clusters = 16
  /** Every `NearDupStride`-th document repeats its predecessor with only
    * the last word changed: a planted near-duplicate pair. */
  val NearDupStride = 25
  val Vocabulary = 200

  final case class Sizes(suppliers: Long, customers: Long, orders: Long,
      parts: Long, documents: Long, vectors: Long)

  def sizes(scale: Double): Sizes = Sizes(
    suppliers = math.max(20L, (10000 * scale).toLong),
    customers = math.max(150L, (150000 * scale).toLong),
    orders = math.max(1500L, (1500000 * scale).toLong),
    parts = math.max(200L, (200000 * scale).toLong),
    documents = math.max(100L, (50000 * scale).toLong),
    vectors = math.max(100L, (50000 * scale).toLong))

  def dir(workDir: String, scale: Double): String =
    s"$workDir/data/v$Version-sf$scale"

  def path(dataDir: String, table: String): String = s"$dataDir/$table.parquet"

  /** Generates every table into `dataDir` unless a complete copy is
    * already there. Writes into a sibling directory and renames it into
    * place, so an interrupted generation never leaves a partial copy. */
  def ensure(spark: SparkSession, dataDir: String, scale: Double): Unit = {
    val done = new java.io.File(dataDir, "_DONE")
    if (done.exists()) return
    val tmp = new java.io.File(dataDir + ".tmp")
    deleteRecursively(tmp)
    deleteRecursively(new java.io.File(dataDir))
    tables(spark, scale).foreach { case (name, df) =>
      df.coalesce(1).write.parquet(path(tmp.getPath, name))
    }
    new java.io.File(tmp, "_DONE").createNewFile()
    if (!tmp.renameTo(new java.io.File(dataDir)))
      throw new IllegalStateException(s"cannot move generated data into $dataDir")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** xxhash64 of a salt and the given columns. */
  private def h(salt: Int, cs: Column*): Column = xxhash64((lit(salt) +: cs): _*)
  private def mod(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(salt: Int, cs: Column*): Column =
    mod(salt, 1000003L, cs: _*).cast("double") / 1000003.0
  private def cents(c: Column): Column = (c.cast("decimal(15,0)") / 100).cast("decimal(15,2)")

  private val Nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3,
    "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4,
    "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2,
    "ROMANIA" -> 3, "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3,
    "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The i-th order key, TPC-H style: runs of 8 keys with gaps of 24, so
    * absent keys exist inside the key range as well as past its end. */
  def orderKey(i: Long): Long = (i / 8) * 32 + (i % 8) + 1

  private def pick(options: Seq[String], salt: Int, c: Column): Column =
    element_at(array(options.map(lit): _*), (mod(salt, options.size, c) + 1).cast("int"))

  def tables(spark: SparkSession, scale: Double): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val n = sizes(scale)
    val region = Regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name")
    val nation = Nations.zipWithIndex.map { case ((nm, r), i) => (i, nm, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val id = col("id")
    val supplier = spark.range(n.suppliers).select(
      (id + 1).as("s_suppkey"),
      concat(lit("Supplier#"), lpad((id + 1).cast("string"), 9, "0")).as("s_name"),
      mod(11, 25, id).cast("int").as("s_nationkey"),
      cents(mod(12, 1100000, id) - 100000).as("s_acctbal"))
    val customer = spark.range(n.customers).select(
      (id + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((id + 1).cast("string"), 9, "0")).as("c_name"),
      mod(21, 25, id).cast("int").as("c_nationkey"),
      cents(mod(22, 1100000, id) - 100000).as("c_acctbal"),
      pick(Segments, 23, id).as("c_mktsegment"))
    val start = to_date(lit("1992-01-01"))
    val orders = spark.range(n.orders).select(
      ((id / 8).cast("long") * 32 + pmod(id, lit(8L)) + 1).as("o_orderkey"),
      (mod(31, n.customers, id) + 1).as("o_custkey"),
      date_add(start, mod(32, 2405, id).cast("int")).as("o_orderdate"),
      cents(mod(33, 50000000, id) + 100000).as("o_totalprice"),
      pick(Priorities, 34, id).as("o_orderpriority"))
      .withColumn("o_orderstatus",
        when(col("o_orderdate") < to_date(lit("1995-06-17")), lit("F")).otherwise(lit("O")))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val lineitem = orders
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (mod(41, 7, ok) + 1).cast("int"))).as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        (mod(42, n.parts, ok, ln) + 1).as("l_partkey"),
        (mod(43, n.suppliers, ok, ln) + 1).as("l_suppkey"),
        ln,
        (mod(44, 50, ok, ln) + 1).cast("decimal(15,2)").as("l_quantity"),
        cents(mod(45, 100000, ok, ln) + 90000).as("__price"),
        (mod(46, 11, ok, ln).cast("decimal(15,0)") / 100).cast("decimal(15,2)").as("l_discount"),
        (mod(47, 9, ok, ln).cast("decimal(15,0)") / 100).cast("decimal(15,2)").as("l_tax"),
        date_add(col("o_orderdate"), (mod(48, 121, ok, ln) + 1).cast("int")).as("l_shipdate"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), ln,
        col("l_quantity"),
        (col("l_quantity") * col("__price")).cast("decimal(15,2)").as("l_extendedprice"),
        col("l_discount"), col("l_tax"),
        when(col("l_shipdate") > to_date(lit("1995-06-17")), lit("N"))
          .otherwise(pick(Seq("A", "R"), 49, col("l_orderkey") * 8 + ln)).as("l_returnflag"),
        when(col("l_shipdate") > to_date(lit("1995-06-17")), lit("O"))
          .otherwise(lit("F")).as("l_linestatus"),
        col("l_shipdate"))
    // word i of a document is drawn from the text of `src`, its own id
    // for an ordinary document and its predecessor's for a planted
    // near-duplicate, whose last word alone is redrawn from its own id
    val did = col("id")
    val near = pmod(did, lit(NearDupStride.toLong)) === NearDupStride - 1
    val src = when(near, did - 1).otherwise(did)
    val len = (mod(51, 51, src) + 30).cast("int")
    def word(salt: Int, a: Column, i: Column): Column = {
      val u = unit(salt, a, i)
      concat(lit("w"), lpad(floor(u * u * Vocabulary).cast("string"), 3, "0"))
    }
    val documents = spark.range(n.documents).select(
      did.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), len), i =>
        when(near && i === len, word(53, did, i)).otherwise(word(52, src, i))))
        .as("text"))
    val vid = col("id")
    val label = mod(61, Clusters, vid).cast("int")
    val embeddings = spark.range(n.vectors).select(
      vid.as("vec_id"),
      transform(sequence(lit(0), lit(EmbeddingDim - 1)), j =>
        ((unit(62, label, j) * 2 - 1) + (unit(63, vid, j) * 2 - 1) * 0.35).cast("float"))
        .as("embedding"),
      label.as("label"))
    Seq("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "orders" -> orders, "lineitem" -> lineitem,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
