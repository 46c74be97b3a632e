package graft.operators

import graft.{QuerySpec, Tables}
import graft.connector.KvCommands
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Queries through the graftkv sorted-KV connector (the reference's own
  * scan/write layer, SURVEY §2.1/§2.2/§2.8). Each query loads the
  * corpus table into a KV table once per (sf, table), reads it back
  * through DSv2, and must match the DuckDB oracle over the original
  * parquet — which proves the whole encode → range-shuffle → sorted
  * segment → prune → seek → decode loop is lossless.
  */
object KvOps {

  /** KV fixture dir per scale factor (derived, cached across queries).
    * The `_m3` suffix names the table layout (manifest versions carry
    * the declaration, sidecars are format V15): bump it when the layout
    * changes, so a fixture an older build left is never opened. */
  private def kvRoot(sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_kv_m3/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"

  /** The directory of the cached KV fixture `table` at a scale factor.
    * Tests open a fixture through this, never by spelling the root, so
    * a layout-tag bump moves them with it. */
  private[graft] def fixturePath(sfDir: String, table: String): String =
    s"${kvRoot(sfDir)}/$table"

  private val lock = new Object

  /** Idempotently materialize a corpus table as a KV table. */
  private def ensure(spark: SparkSession, sfDir: String, table: String,
      keys: Seq[String], encoding: String = graft.store.RowCodec.Binary,
      fixture: String = null): String =
    ensureDf(spark, sfDir, Option(fixture).getOrElse(table),
      Tables.table(spark, sfDir, table), keys, encoding)

  /** Bump when the SEGMENT FORMAT gains claims the gates rely on
    * (zone sums, NDV sketches, null counts, …): cached fixtures written
    * by an older writer would silently lack them — correctness gates
    * still pass via the scan fallback, but metadata-claim gates (kv41)
    * would read NULL where the current writer publishes a number. */
  private val FixtureFormat = "v15" // decoded record-stream size per segment

  /** Idempotently materialize `df` as a KV table. A cached fixture whose
    * declared keys or codec differ from the request (stale layout from
    * an earlier code version), or whose segments were written by an
    * older sidecar format, is dropped and rebuilt — fixtures must
    * reflect the CURRENT storage design or parity results silently
    * drift. */
  private def ensureDf(spark: SparkSession, sfDir: String, fixture: String,
      df: => DataFrame, keys: Seq[String],
      encoding: String = graft.store.RowCodec.Binary,
      compress: Option[String] = None): String = lock.synchronized {
    val path = fixturePath(sfDir, fixture)
    val marker = java.nio.file.Paths.get(path, "_fixture_format")
    val current = graft.connector.GraftKvMeta.read(path)
        .exists(m => m.keys == keys && m.encoding == encoding &&
          m.props.get(graft.connector.GraftKvMeta.SegmentCompressProp) ==
            compress) &&
      java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker).trim == FixtureFormat
    if (!current) {
      KvCommands.dropTable(path)
      KvCommands.createTable(df, path, keys, encoding, compress = compress)
      java.nio.file.Files.writeString(marker, FixtureFormat)
    }
    path
  }

  /** The synthetic corpus' (l_orderkey, l_linenumber) is NOT unique, and
    * a keyed store under Put semantics would collapse the twins (HBase
    * would: same row key = same cell). Storing a multiset in a keyed
    * store takes a uniquifying key dimension — here the row's
    * deterministic rank among its key twins (the HBase-user equivalent
    * is appending a sequence to the row key). Queries never read l_uid;
    * it only makes every composite key distinct. */
  private def lineitemKv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lazy val li = Tables.table(s, d, "lineitem")
    lazy val orderCols = li.columns
      .filterNot(c => c == "l_orderkey" || c == "l_linenumber").map(col).toSeq
    lazy val keyed = li.withColumn("l_uid",
      row_number().over(Window.partitionBy("l_orderkey", "l_linenumber")
        .orderBy(orderCols: _*)))
    KvCommands.table(s, ensureDf(s, d, "lineitem", keyed,
      Seq("l_orderkey", "l_linenumber", "l_uid")))
  }

  /** Lineitem with an EXACT DECIMAL(12,2) money column stored natively
    * in the kv codec (sign-flipped scale-normalized unscaled integer —
    * order-preserving, fixed width). The decimal is built from integer
    * columns via string parse, not a double cast, so its value is
    * engine-independent and the gate hashes exactly. The reference
    * PARSES decimal DDL but cannot store it (HBaseSQLParser.scala:
    * 234-249 vs HBaseCatalog.scala:425-446); this stores money exactly. */
  private def lineitemDecKv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lazy val li = Tables.table(s, d, "lineitem")
    lazy val orderCols = li.columns
      .filterNot(c => c == "l_orderkey" || c == "l_linenumber").map(col).toSeq
    lazy val keyed = li
      .withColumn("l_uid",
        row_number().over(Window.partitionBy("l_orderkey", "l_linenumber")
          .orderBy(orderCols: _*)))
      .withColumn("price_dec", expr(
        "CAST(concat(cast(l_partkey as string), '.', " +
          "lpad(cast(l_suppkey % 100 as string), 2, '0')) AS DECIMAL(12,2))"))
      .select("l_orderkey", "l_linenumber", "l_uid", "l_returnflag", "price_dec")
    KvCommands.table(s, ensureDf(s, d, "lineitem_dec", keyed,
      Seq("l_orderkey", "l_linenumber", "l_uid")))
  }

  /** The documents corpus on zstd-compressed segments — the realistic
    * compression target (text-heavy values). Queries over it prove the
    * whole stack (seeks, zone pruning, residuals, decode) is
    * codec-oblivious; KvCompressionSpec pins the mechanics and the
    * compression ratio. */
  private def documentsZstdKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensureDf(s, d, "documents_zstd",
      Tables.table(s, d, "documents"), Seq("doc_id"),
      compress = Some(graft.store.SegmentFile.Compression.Zstd)))

  private def ordersKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))

  private def customerKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensure(s, d, "customer", Seq("c_custkey")))

  /** Orders with a secondary index on o_custkey (created on first use,
    * refreshed if another fixture writer advanced the table — the gate
    * must exercise the in-sync rewrite, not the stale fallback). */
  private def ordersIndexed(s: SparkSession, d: String): DataFrame = {
    val path = ensure(s, d, "orders", Seq("o_orderkey"))
    graft.connector.KvIndex.get(path, "idx_ck") match {
      case None =>
        graft.connector.KvIndex.create(s, path, "idx_ck", Seq("o_custkey"))
      case Some(ix) if !graft.connector.KvIndex.inSync(path, ix) =>
        graft.connector.KvIndex.refresh(s, path, "idx_ck")
      case _ => ()
    }
    KvCommands.table(s, path)
  }

  /** 3-part composite PK (reference teacher-table analog, FIXTURES §1.3):
    * (user_id, event_type, event_id) exercises multi-dimensional keys
    * with a string middle dimension. */
  private def eventsKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensure(s, d, "events",
      Seq("user_id", "event_type", "event_id")))

  /** Same orders table stored under the stringformat codec (reference DDL
    * `IN stringformat`): every field is its decimal-string form, and all
    * key ordering — writer sort check, floor seeks, pruning — runs
    * through the typed-comparator path instead of byte order. */
  private def ordersStrKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey"),
      encoding = graft.store.RowCodec.StringFormat, fixture = "orders_str"))

  /** 3-part composite PK under stringformat: multi-dimensional typed
    * comparators (numeric lead, string middle, numeric third). */
  private def eventsStrKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ensure(s, d, "events",
      Seq("user_id", "event_type", "event_id"),
      encoding = graft.store.RowCodec.StringFormat, fixture = "events_str"))

  /** Orders with a Put-upsert overlay: every order with key ≤ 100 is
    * RE-INSERTED with o_orderstatus = 'X' (reference insert = HBase Put,
    * which replaces the cell at an existing row key). The appended run
    * overlaps the original segments, so reads go through the
    * last-write-wins merge — the oracle states the post-upsert truth
    * directly over the parquet original. */
  private def ordersUpsertPath(s: SparkSession, d: String): String =
    lock.synchronized {
      val p = s"${kvRoot(d)}/orders_upsert"
      // rebuild when absent OR when built by a pre-snapshot code version
      // (kv19 reads the creation snapshot, so the commit log must exist)
      if (graft.connector.GraftKvMeta.read(p).isEmpty ||
        KvCommands.snapshots(p).size < 2) {
        KvCommands.dropTable(p)
        val o = Tables.table(s, d, "orders")
        KvCommands.createTable(o, p, Seq("o_orderkey"))
        KvCommands.append(o.filter(col("o_orderkey") <= 100)
          .withColumn("o_orderstatus", lit("X")), p)
      }
      p
    }

  private def ordersUpsertKv(s: SparkSession, d: String): DataFrame =
    KvCommands.table(s, ordersUpsertPath(s, d))

  /** Orders with a DELETE applied: every order with o_totalprice below
    * 100000 is tombstoned (scan-based delete on a NON-key column). The
    * oracle states the post-delete truth over the parquet original. */
  private def ordersDeleteKv(s: SparkSession, d: String): DataFrame = {
    val path = lock.synchronized {
      val p = s"${kvRoot(d)}/orders_delete"
      if (graft.connector.GraftKvMeta.read(p).isEmpty) {
        KvCommands.createTable(Tables.table(s, d, "orders"), p, Seq("o_orderkey"))
        KvCommands.delete(s, p, col("o_totalprice") < 100000.0)
      }
      p
    }
    KvCommands.table(s, path)
  }

  /** Orders with an UPDATE applied: high-value orders get a new
    * priority (scan + assignment + Put-upsert append of only the touched
    * rows — never a table rewrite). */
  private def ordersUpdateKv(s: SparkSession, d: String): DataFrame = {
    val path = lock.synchronized {
      val p = s"${kvRoot(d)}/orders_update"
      // snapshots < 2 = created but the update never committed: rebuild
      if (graft.connector.GraftKvMeta.read(p).isEmpty ||
        KvCommands.snapshots(p).size < 2) {
        KvCommands.dropTable(p)
        KvCommands.createTable(Tables.table(s, d, "orders"), p, Seq("o_orderkey"))
        KvCommands.update(s, p, col("o_totalprice") > 400000.0,
          Map("o_orderpriority" -> lit("0-UPDATED")))
      }
      p
    }
    KvCommands.table(s, path)
  }

  /** Orders after a SQL MERGE INTO through the DSv2 row-level delta
    * path: low keys have their price doubled (matched update), a
    * key-shifted slice is inserted (not matched). The fixture registers
    * a graft catalog rooted at the fixture dir so the statement runs as
    * pure SQL against the kv table. */
  /** Orders clustered on the (o_custkey, o_orderkey) z-curve: the box
    * query's "orders of a customer segment in a key range" shape reads
    * only the segments whose z-span intersects the box's quadtree cover
    * (ZOrderTableSpec pins the pruning; here the gate pins results). */
  private def ordersZPath(s: SparkSession, d: String): String =
    lock.synchronized {
      val p = s"${kvRoot(d)}/orders_z"
      if (!graft.connector.GraftKvMeta.read(p).exists(_.zorder.nonEmpty)) {
        KvCommands.dropTable(p)
        KvCommands.createZOrderTable(Tables.table(s, d, "orders"), p,
          Seq("o_custkey", "o_orderkey"))
      }
      p
    }

  /** Events clustered on the 3-dim (user_id, event_type, event_id)
    * z-curve — numeric lead, STRING middle (8-byte UTF-8 prefix codes),
    * numeric third. */
  private def eventsZPath(s: SparkSession, d: String): String =
    lock.synchronized {
      val p = s"${kvRoot(d)}/events_z"
      if (!graft.connector.GraftKvMeta.read(p).exists(_.zorder.nonEmpty)) {
        KvCommands.dropTable(p)
        KvCommands.createZOrderTable(Tables.table(s, d, "events"), p,
          Seq("user_id", "event_type", "event_id"))
      }
      p
    }

  /** Register (idempotently) a graft catalog rooted at this sf's fixture
    * dir so metadata tables (`cat.t.snapshots` / `cat.t.segments`)
    * resolve as plain SQL names. The catalog NAME carries the sfDir —
    * Spark caches catalog instances by name, so a shared name would pin
    * the first sfDir's root for the whole session. */
  private def fixtureCatalog(s: SparkSession, d: String): String = {
    val cat = "graft_kvmeta_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.connector.GraftKvCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", kvRoot(d))
    cat
  }

  private def ordersMergeKv(s: SparkSession, d: String): DataFrame = {
    val path = lock.synchronized {
      val root = kvRoot(d)
      // catalog NAME carries the sfDir: Spark caches catalog instances
      // by name after first use, so a shared name would pin the first
      // sfDir's root for the whole session
      val cat = "graft_kvops_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      val p = s"$root/db/orders_merge"
      // snapshots < 2 = created but the merge never committed: rebuild
      if (graft.connector.GraftKvMeta.read(p).isEmpty ||
        KvCommands.snapshots(p).size < 2) {
        KvCommands.dropTable(p)
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.connector.GraftKvCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        val o = Tables.table(s, d, "orders")
        KvCommands.createTable(o, p, Seq("o_orderkey"))
        o.filter(col("o_orderkey") <= 50)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") <= 10)
            .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
          .createOrReplaceTempView("orders_merge_src")
        s.sql(s"""MERGE INTO $cat.db.orders_merge t
          |USING orders_merge_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      p
    }
    KvCommands.table(s, path)
  }

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec.checked("kv1_scan_count",
      "SELECT count(*) AS cnt FROM lineitem") { (s, d) =>
      lineitemKv(s, d).agg(count(lit(1)).as("cnt"))
    },

    // point lookup on the leading key → segment pruning + in-segment seek
    QuerySpec.checked("kv2_point_lookup",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 1 ORDER BY l_linenumber, l_quantity""") { (s, d) =>
      lineitemKv(s, d).filter(col("l_orderkey") === 1)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_linenumber", "l_quantity")
    },

    QuerySpec.checked("kv3_range_scan",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_orderkey > 50 AND l_orderkey <= 120
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""") { (s, d) =>
      lineitemKv(s, d)
        .filter(col("l_orderkey") > 50 && col("l_orderkey") <= 120)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },

    // non-key residual filter + column pruning through the KV reader
    QuerySpec.checked("kv4_residual_filter",
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_quantity >= 49 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_quantity""") { (s, d) =>
      lineitemKv(s, d)
        .filter(col("l_quantity") >= 49 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_quantity")
        .orderBy("l_orderkey", "l_quantity")
    },

    QuerySpec.checked("kv5_agg_over_kv",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      lineitemKv(s, d).groupBy("l_returnflag")
        .agg(graft.QuerySpec.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // single-column PK table incl. nullable strings + timestamps in values
    QuerySpec.checked("kv6_orders_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
        |WHERE o_orderkey >= 10 AND o_orderkey < 20 ORDER BY o_orderkey""") { (s, d) =>
      ordersKv(s, d)
        .filter(col("o_orderkey") >= 10 && col("o_orderkey") < 20)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    },

    // heterogeneous join: KV table × parquet dim (reference J9,
    // HBaseAdditionalQuerySuite.scala:153-159)
    QuerySpec.checked("kv7_kv_parquet_join",
      """SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c
        |ON o.o_custkey = c.c_custkey WHERE o.o_orderkey < 50
        |ORDER BY o.o_orderkey""") { (s, d) =>
      val o = ordersKv(s, d).filter(col("o_orderkey") < 50)
      val c = Tables.table(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name").orderBy("o_orderkey")
    },

    // metadata-only aggregation: COUNT/MIN/MAX answered from segment
    // sidecars via SupportsPushDownAggregates (coprocessor parity, R11)
    QuerySpec.checked("kv9_metadata_agg",
      """SELECT count(*) AS cnt, min(l_orderkey) AS min_k, max(l_orderkey) AS max_k
        |FROM lineitem""") { (s, d) =>
      lineitemKv(s, d).agg(count(lit(1)).as("cnt"),
        min(col("l_orderkey")).as("min_k"), max(col("l_orderkey")).as("max_k"))
    },

    // multi-dimensional composite PK: filter pins the leading dim and
    // constrains the string second dim → deep-dimension pruning +
    // shuffle-free-adjacent aggregation on the key prefix
    QuerySpec.checked("kv10_multidim_key",
      """SELECT user_id, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id = 7 AND event_type >= 'p'
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""") { (s, d) =>
      eventsKv(s, d)
        .filter(col("user_id") === 7 && col("event_type") >= "p")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"),
          graft.QuerySpec.dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "event_type")
    },

    // IN-list point-set lookup (reference point-get batching, R12)
    QuerySpec.checked("kv8_in_list_points",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (3, 7, 11, 400) ORDER BY o_orderkey""") { (s, d) =>
      ordersKv(s, d).filter(col("o_orderkey").isin(3, 7, 11, 400))
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // filtered metadata aggregation: the BETWEEN is consumed by the
    // source (lead-only filter), so COUNT/MIN/MAX still push down —
    // fully-covered segments answer from sidecar metadata, only the two
    // boundary segments scan their records
    QuerySpec.checked("kv13_metadata_agg_filtered",
      """SELECT count(*) AS cnt, min(l_orderkey) AS min_k, max(l_orderkey) AS max_k
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 4000""") { (s, d) =>
      lineitemKv(s, d)
        .filter(col("l_orderkey") >= 100 && col("l_orderkey") <= 4000)
        .agg(count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("min_k"), max(col("l_orderkey")).as("max_k"))
    },

    // stringformat codec roundtrip (reference stringformat tables,
    // HBaseTpcStringFormatMiniTestSuite): every type in orders survives
    // the encode-as-string → decode loop losslessly
    QuerySpec.checked("kv11_stringformat_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
        |WHERE o_orderkey >= 10 AND o_orderkey < 20 ORDER BY o_orderkey""") { (s, d) =>
      ordersStrKv(s, d)
        .filter(col("o_orderkey") >= 10 && col("o_orderkey") < 20)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    },

    // numeric range over string-encoded keys: byte order would give
    // "100" < "51" — only the typed-comparator path (RowCodec.compareKeys)
    // keeps pruning/seek/early-stop sound here
    QuerySpec.checked("kv12_stringformat_range",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey > 50 AND o_orderkey <= 120
        |ORDER BY o_orderkey""") { (s, d) =>
      ordersStrKv(s, d)
        .filter(col("o_orderkey") > 50 && col("o_orderkey") <= 120)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // 3-dim stringformat composite key: pinned numeric lead (typed
    // compare: 7 vs "7") + string middle-dim range + aggregation —
    // the dimension-descent seek and multi-dim comparators together
    QuerySpec.checked("kv14_stringformat_multidim",
      """SELECT user_id, event_type, count(*) AS cnt
        |FROM events WHERE user_id = 7 AND event_type >= 'p'
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""") { (s, d) =>
      eventsStrKv(s, d)
        .filter(col("user_id") === 7 && col("event_type") >= "p")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("user_id", "event_type")
    },

    // Put-upsert semantics (reference HBaseRelation.scala:644-708): a
    // re-inserted key REPLACES the stored row. Row-level read through
    // the last-write-wins merge over overlapping generations.
    QuerySpec.checked("kv15_upsert",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey <= 100 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""") { (s, d) =>
      ordersUpsertKv(s, d).filter(col("o_orderkey") <= 200)
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    },

    // whole-table aggregation over the merged view: superseded versions
    // must not be counted (metadata-agg pushdown correctly refuses the
    // overlapping table and the scan merges instead)
    QuerySpec.checked("kv16_upsert_agg",
      """SELECT CASE WHEN o_orderkey <= 100 THEN 'X' ELSE o_orderstatus END AS st,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY st""") { (s, d) =>
      ordersUpsertKv(s, d)
        .groupBy(col("o_orderstatus").as("st")).agg(count(lit(1)).as("cnt"))
        .orderBy("st")
    },

    // DELETE semantics (tombstones at the next generation, the HBase
    // Delete-mutation analog): deleted rows are invisible to scans,
    // range filters, and aggregates — the oracle applies the delete
    // predicate to the parquet original
    QuerySpec.checked("kv17_delete",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= 100000 AND o_orderkey <= 500
        |ORDER BY o_orderkey""") { (s, d) =>
      ordersDeleteKv(s, d).filter(col("o_orderkey") <= 500)
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // star join with a selective dim filter: Spark evaluates the dim
    // side first (broadcast) and hands the kv fact scan the surviving
    // join keys as a runtime IN predicate (SupportsRuntimeV2Filtering —
    // the DPP analog; RuntimeFilterSpec pins that the scan actually
    // prunes). At scale this is the difference between a 100 TB fact
    // scan and a few hundred segment seeks.
    QuerySpec.checked("kv18_runtime_pruned_join",
      """SELECT l.l_orderkey, count(*) AS cnt,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000
        |GROUP BY l.l_orderkey ORDER BY l.l_orderkey""") { (s, d) =>
      val l = lineitemKv(s, d)
      val o = Tables.table(s, d, "orders").filter(col("o_totalprice") > 400000)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(l("l_orderkey"))
        .agg(count(lit(1)).as("cnt"),
          graft.QuerySpec.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_orderkey")
    },

    // time travel: the upsert fixture's CREATION snapshot predates the
    // Put-upsert overlay, so VERSION AS OF its first commit must read
    // exactly the parquet original — the oracle is the unmodified table
    QuerySpec.checked("kv19_time_travel",
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey <= 200 ORDER BY o_orderkey""") { (s, d) =>
      val p = ordersUpsertPath(s, d)
      KvCommands.tableAsOf(s, p, KvCommands.snapshots(p).head)
        .filter(col("o_orderkey") <= 200)
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    },

    // snapshot diff (CDC between retained commits): creation →
    // post-upsert on the upsert fixture is exactly the upserted slice,
    // every row an 'updated' with the original status on the old side —
    // which the oracle can state directly over the parquet original
    QuerySpec.checked("kv20_snapshot_diff",
      """SELECT o_orderkey, 'updated' AS change,
        |  o_orderstatus AS old_status, 'X' AS new_status
        |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""") { (s, d) =>
      val p = ordersUpsertPath(s, d)
      val vs = KvCommands.snapshots(p)
      KvCommands.snapshotDiff(s, p, vs.head, vs.last)
        .select(col("o_orderkey"), col("change"),
          col("old_o_orderstatus").as("old_status"),
          col("new_o_orderstatus").as("new_status"))
        .orderBy("o_orderkey")
    },

    // UPDATE = pruned scan + upsert append of the touched rows; the
    // oracle restates the assignment as a CASE over the parquet original
    QuerySpec.checked("kv21_update",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 400000 THEN '0-UPDATED'
        |       ELSE o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      ordersUpdateKv(s, d)
        .select("o_orderkey", "o_orderpriority").orderBy("o_orderkey")
    },

    // SQL MERGE INTO via the DSv2 delta row-level path; the oracle
    // restates the merge as CASE (matched update) + UNION (inserts).
    // Doubling a double is exact, so values hash-match cross-engine.
    QuerySpec.checked("kv22_merge_into",
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= 50 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_totalprice FROM orders
        |  WHERE o_orderkey <= 10
        |) ORDER BY o_orderkey""") { (s, d) =>
      ordersMergeKv(s, d)
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // the snapshots METADATA TABLE over the upsert fixture's commit log
    // (create = all rows, upsert = +100 physical rows in a new
    // generation): version numbers are engine-internal, so the query
    // ranks snapshots by version and checks the physical row totals —
    // which the oracle states from the parquet original
    QuerySpec.checked("kv23_snapshot_log",
      """SELECT CAST(1 AS BIGINT) AS snap,
        |  (SELECT count(*) FROM orders) AS n_rows
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  (SELECT count(*) FROM orders)
        |    + (SELECT count(*) FROM orders WHERE o_orderkey <= 100)
        |ORDER BY snap""") { (s, d) =>
      ordersUpsertPath(s, d)
      val cat = fixtureCatalog(s, d)
      // rank via a correlated count instead of a global window: the
      // snapshots metadata table is retention-bounded (a handful of
      // rows at ANY corpus scale), so the quadratic count is a few
      // comparisons — and no single-partition WindowExec ever plans
      // (Spark folds a constant PARTITION BY away, so that spelling
      // still warned)
      s.sql(
        s"""SELECT (SELECT CAST(count(*) AS BIGINT)
           |    FROM $cat.orders_upsert.snapshots s2
           |    WHERE s2.version <= s1.version) AS snap,
           |  s1.n_rows FROM $cat.orders_upsert.snapshots s1
           |ORDER BY snap""".stripMargin)
    },

    // the segments METADATA TABLE: segment count/boundaries are
    // engine-internal, but the inventory's row total and decoded
    // leading-key bounds must equal the stored data's — a pure-SQL
    // aggregation over the metadata table against the parquet truth
    QuerySpec.checked("kv24_segment_inventory",
      """SELECT count(*) AS total_rows, min(o_orderkey) AS min_k,
        |  max(o_orderkey) AS max_k FROM orders""") { (s, d) =>
      ordersKv(s, d)
      val cat = fixtureCatalog(s, d)
      s.sql(
        s"""SELECT sum(rows) AS total_rows,
           |  min(CAST(min_lead AS BIGINT)) AS min_k,
           |  max(CAST(max_lead AS BIGINT)) AS max_k
           |FROM $cat.orders.segments""".stripMargin)
    },

    // metadata SUM (V7 zone-stat sums, the coprocessor partial-sum
    // analog): COUNT + exact integral SUM answered from segment
    // metadata on a fresh bulk-loaded table (KvConnectorSpec pins the
    // plan shape; the gate pins values against the parquet truth —
    // identical whether the plan hits metadata or falls back to a scan)
    QuerySpec.checked("kv26_metadata_sum",
      """SELECT count(*) AS cnt, CAST(sum(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders""") { (s, d) =>
      ordersKv(s, d).agg(count(lit(1)).as("cnt"),
        sum(col("o_custkey")).as("sum_ck"))
    },

    // metadata MIN/MAX (V8 exact zone maps): value-column extremes
    // answered from segment metadata alongside COUNT/SUM — zero data
    // bytes on a fresh bulk-loaded table. o_custkey exercises the
    // integral path, o_totalprice the double path (pure value
    // comparisons, no arithmetic — cross-engine exact). The gate pins
    // values against the parquet truth, identical whether the plan
    // hits metadata or falls back to a scan; KvConnectorSpec pins the
    // plan shape and the upsert/tombstone/null fallbacks.
    QuerySpec.checked("kv28_metadata_minmax",
      """SELECT count(*) AS cnt,
        |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        |  min(o_totalprice) AS min_tp, max(o_totalprice) AS max_tp
        |FROM orders""") { (s, d) =>
      ordersKv(s, d).agg(count(lit(1)).as("cnt"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
        min(col("o_totalprice")).as("min_tp"), max(col("o_totalprice")).as("max_tp"))
    },

    // secondary-index lookup (Phoenix-style global index, extension
    // scope): equality on the indexed NON-key column plans as an index
    // seek + semi-join whose pk set reaches the base scan as a runtime
    // IN (KvIndexSpec pins the plan shape and the staleness gate); the
    // oracle pins the values against the parquet truth — identical
    // whether the rewrite fires or the plan falls back to a scan
    QuerySpec.checked("kv29_index_lookup",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_custkey = 7 ORDER BY o_orderkey""") { (s, d) =>
      ordersIndexed(s, d).filter(col("o_custkey") === 7)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // incrementally-maintained aggregate view (KvMatView, extension
    // scope): COUNT + exact Long SUM per group, folded from the CDC
    // delta on refresh; the gate reads the MATERIALIZED rows and pins
    // them against a plain GROUP BY over the parquet truth —
    // bit-identical because the stored sums are exact Long arithmetic
    QuerySpec.checked("kv30_matview_agg",
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_o_custkey
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val path = ensure(s, d, "orders", Seq("o_orderkey"))
      import graft.connector.KvMatView
      KvMatView.get(path, "mv_status") match {
        case None =>
          KvMatView.create(s, path, "mv_status",
            Seq("o_orderstatus"), Seq("o_custkey"))
        case Some(v) if !KvMatView.inSync(path, v) =>
          KvMatView.refresh(s, path, "mv_status")
        case _ => ()
      }
      KvMatView.read(s, path, "mv_status")
        .select(col("o_orderstatus"), col("cnt"), col("sum_o_custkey"))
        .orderBy("o_orderstatus")
    },

    // TRANSPARENT aggregate rewrite (KvMatViewRule): the same GROUP BY
    // phrased against the BASE table answers from the in-sync view —
    // the stored per-column NULL counters prove the (schema-nullable,
    // actually NULL-free) group column safe. The oracle pins the values
    // against the parquet truth, identical whether the rewrite fires or
    // the plan falls back to the scan (KvMatViewRewriteSpec pins the
    // plan shape itself).
    QuerySpec.checked("kv31_matview_rewrite",
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  count(o_custkey) AS nn_cust
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val path = ensure(s, d, "orders", Seq("o_orderkey"))
      import graft.connector.KvMatView
      KvMatView.get(path, "mv_status") match {
        case None =>
          KvMatView.create(s, path, "mv_status",
            Seq("o_orderstatus"), Seq("o_custkey"))
        case Some(v) if !KvMatView.inSync(path, v) ||
            v.nullRowsByGroup.isEmpty =>
          KvMatView.refresh(s, path, "mv_status")
        case _ => ()
      }
      KvCommands.table(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_custkey").as("sum_cust"),
          count(col("o_custkey")).as("nn_cust"))
        .orderBy("o_orderstatus")
    },

    // TPC-H Q3 executed END-TO-END on the engine's own storage: all
    // three tables live as kv tables (customer keyed c_custkey, orders
    // o_orderkey, lineitem composite), the segment filter pushes to the
    // customer scan, the dims broadcast off post-pruning size estimates,
    // and the result must equal the DuckDB truth over the original
    // parquet — the "a user could switch storage" proof for a real
    // analytical join, not just per-table round-trips.
    QuerySpec.checked("kv32_tpch_q3_on_kv", TpcH.q3OracleSql) { (s, d) =>
      TpcH.q3 {
        case "customer" => customerKv(s, d)
        case "orders" => ordersKv(s, d)
        case "lineitem" => lineitemKv(s, d)
        case other => Tables.table(s, d, other)
      }
    },

    // TPC-H Q18 on kv storage: the HAVING subquery's GROUP BY
    // l_orderkey runs SHUFFLE-FREE off the lineitem scan's
    // KeyGroupedPartitioning (l_orderkey is the kv table's leading key
    // — the reference's shuffle-free coprocessor aggregation, composed
    // into a full TPC-H query); same shared builder + oracle as a19.
    QuerySpec.checked("kv34_tpch_q18_on_kv", TpcH.q18OracleSql) { (s, d) =>
      TpcH.q18 {
        case "lineitem" => lineitemKv(s, d)
        case "orders" => ordersKv(s, d)
        case "customer" => customerKv(s, d)
        case other => Tables.table(s, d, other)
      }
    },

    // TPC-H Q1 on kv storage: the full-table scan-and-aggregate shape
    // through the columnar kv reader + pushed shipdate filter — the
    // exact same plan and oracle as the parquet a8 gate.
    QuerySpec.checked("kv44_tpch_q1_on_kv", TpcH.q1OracleSql) { (s, d) =>
      TpcH.q1 {
        case "lineitem" => lineitemKv(s, d)
        case other => Tables.table(s, d, other)
      }
    },

    // TPC-H Q6 on kv storage: the pure filter-and-aggregate shape —
    // the shipdate/discount/quantity conjunction pushes into the kv
    // scan's zone pruning + residual codegen.
    QuerySpec.checked("kv45_tpch_q6_on_kv", TpcH.q6OracleSql) { (s, d) =>
      TpcH.q6 {
        case "lineitem" => lineitemKv(s, d)
        case other => Tables.table(s, d, other)
      }
    },

    // The LLM-pipeline operators COMPOSE with the engine's own storage:
    // exact dedup (shuffle on the 16-byte text hash) over a kv-stored
    // documents table, against the same oracle as parquet dd1 — a
    // curation pipeline can run where the corpus lives.
    QuerySpec.checked("kv35_dedup_on_kv",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
        |  min(doc_id) AS keep_id, count(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""") { (s, d) =>
      graft.pipeline.Dedup.exactDedup(
        KvCommands.table(s, ensure(s, d, "documents", Seq("doc_id"))))
        .orderBy("keep_id")
    },

    // SHUFFLE-FREE, SORT-FREE window on the key order (the window
    // analog of the reference's R8/R9 sort-elision strategies,
    // HBaseStrategies.scala:42-60): PARTITION BY the disjoint lead key
    // rides the scan's KeyGroupedPartitioning (no Exchange) and ORDER
    // BY the next key column rides its reported ordering (no Sort) —
    // PlanShapeSpec pins both; this gate pins the VALUES against the
    // parquet truth, identical whether the elision fires or not.
    QuerySpec.checked("kv36_window_on_kv",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      lineitemKv(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(38, 6))).over(w)
            .cast(DoubleType).as("run_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Materialized MIN/MAX of VALUE columns (KvMatView minMaxCols):
    // stored per-group extremes — inserts tighten incrementally,
    // extreme-touching removals rescan only the affected groups — and
    // the transparent rewrite answers MIN/MAX from the view. The
    // query is phrased against the BASE table so the rewrite can fire;
    // the oracle pins the values against the parquet truth, identical
    // whether it fires or the plan falls back to the scan
    // (KvMatViewRewriteSpec pins the plan shape itself).
    QuerySpec.checked("kv37_matview_minmax",
      """SELECT o_orderstatus, count(*) AS cnt,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(min(o_custkey) AS BIGINT) AS min_cust,
        |  CAST(max(o_custkey) AS BIGINT) AS max_cust
        |FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
      val path = ensure(s, d, "orders", Seq("o_orderkey"))
      import graft.connector.KvMatView
      KvMatView.get(path, "mv_status_mm") match {
        case None =>
          KvMatView.create(s, path, "mv_status_mm", Seq("o_orderstatus"),
            Nil, Seq("o_totalprice", "o_custkey"))
        case Some(v) if !KvMatView.inSync(path, v) =>
          KvMatView.refresh(s, path, "mv_status_mm")
        case _ => ()
      }
      KvCommands.table(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"),
          min("o_custkey").as("min_cust"),
          max("o_custkey").as("max_cust"))
        .orderBy("o_orderstatus")
    },

    // Metadata NDV (KvNdvRule + V9 HLL++ sketches): whole-table
    // approx_count_distinct answers from merged per-segment registers —
    // zero data bytes at any table size. The kv-side estimate must be
    // BIT-IDENTICAL to the parquet scan's estimate (same helper, same
    // rsd, register merge is per-register max), which the gate checks
    // in-band; the exact distinct count is the DuckDB-checkable column,
    // with an accuracy band on the estimate like a10.
    QuerySpec.checked("kv38_metadata_ndv",
      """SELECT count(DISTINCT o_custkey) AS exact_nd,
        |  true AS meta_matches_scan, true AS approx_ok
        |FROM orders""") { (s, d) =>
      val kvT = KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
      val pqT = Tables.table(s, d, "orders")
      val exact = pqT.agg(
        countDistinct(col("o_custkey")).as("exact_nd"))
      val scanEst = pqT.agg(
        approx_count_distinct(col("o_custkey")).as("se"))
      val metaEst = kvT.agg(
        approx_count_distinct(col("o_custkey")).as("me"))
      exact.crossJoin(scanEst).crossJoin(metaEst)
        .select(col("exact_nd"),
          (col("me") === col("se")).as("meta_matches_scan"),
          (abs(col("me") - col("exact_nd")).cast("double") / col("exact_nd")
            <= 0.15).as("approx_ok"))
    },

    // Metadata percentiles (KvPercentileRule + V11 Greenwald-Khanna
    // summaries): whole-table approx_percentile answers from merged
    // per-segment summaries — zero data bytes at any table size. The
    // answered VALUE is merge-order-dependent (scan-side answers are
    // too), so the invariant the gate checks in-band is the ε-rank
    // CONTRACT itself: rank(answer) within ε·N (+1 floor slack) of p·N
    // over the parquet truth, for a double column at p50 and a long
    // column at p90. The exact non-null count is the DuckDB-checkable
    // column.
    QuerySpec.checked("kv42_metadata_percentile",
      """SELECT count(o_totalprice) AS n_price,
        |  true AS p50_price_ok, true AS p90_cust_ok
        |FROM orders""") { (s, d) =>
      val eps = graft.store.SegmentFile.QsRelativeError
      val kvT = KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
      val pq = Tables.table(s, d, "orders")
      val m = kvT.agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("mp"),
        percentile_approx(col("o_custkey"), lit(0.9), lit(10000)).as("mc"))
      pq.crossJoin(m).agg(
        count(col("o_totalprice")).as("n_price"),
        count(when(col("o_totalprice") < col("mp"), 1)).as("lt_p"),
        count(when(col("o_totalprice") <= col("mp"), 1)).as("le_p"),
        count(col("o_custkey")).as("n_c"),
        count(when(col("o_custkey") < col("mc"), 1)).as("lt_c"),
        count(when(col("o_custkey") <= col("mc"), 1)).as("le_c"))
        .select(col("n_price"),
          (col("lt_p") <= col("n_price") * 0.5 + col("n_price") * eps + 1 &&
            col("le_p") >= col("n_price") * 0.5 - col("n_price") * eps - 1)
            .as("p50_price_ok"),
          (col("lt_c") <= col("n_c") * 0.9 + col("n_c") * eps + 1 &&
            col("le_c") >= col("n_c") * 0.9 - col("n_c") * eps - 1)
            .as("p90_cust_ok"))
    },

    // STRING MIN/MAX from metadata (V12 string zones), alongside the
    // numeric MIN/SUM/COUNT claims: a mixed-type aggregate answered
    // without opening a data file, exact and hash-checkable. (AVG
    // rides the same path — Spark rewrites it into the pushed
    // SUM/COUNT pair — but stays out of the gate: its division is a
    // derived double, and the gate hashes only exact values.)
    QuerySpec.checked("kv46_metadata_string_minmax",
      """SELECT min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
        |  CAST(min(o_custkey) AS BIGINT) AS mn_c,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_c,
        |  count(*) AS cnt
        |FROM orders""") { (s, d) =>
      KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
        .agg(min(col("o_orderstatus")).as("mn_s"),
          max(col("o_orderstatus")).as("mx_s"),
          min(col("o_custkey")).as("mn_c"),
          sum(col("o_custkey")).as("sum_c"),
          count(lit(1)).as("cnt"))
    },

    // COUNT(DISTINCT <full key>) is EXACT from metadata: duplicate keys
    // collapse at write and the gate guarantees key-disjoint segments,
    // so the distinct count IS the live row count — zero data bytes,
    // hash-checkable (not an estimate).
    QuerySpec.checked("kv43_count_distinct_key",
      """SELECT count(DISTINCT o_orderkey) AS dk, count(*) AS cnt
        |FROM orders""") { (s, d) =>
      KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
        .agg(countDistinct(col("o_orderkey")).as("dk"),
          count(lit(1)).as("cnt"))
    },

    // Pushed TABLESAMPLE (SupportsPushDownTableSample): deterministic
    // per-key Bernoulli applied in the cursor before value decode —
    // generation-consistent on the merge-on-read store, so the 100-TB
    // quality-estimation pass decodes only its fraction. The sample
    // itself is engine-defined randomness, so the oracle is invariant:
    // the exact base count (DuckDB-checked) with in-band verdicts that
    // the fraction holds (binomial band) and the sample is a true
    // subset (anti-join empty), both deterministic given the seed.
    QuerySpec.checked("kv39_sample_pushdown",
      """SELECT count(*) AS total, true AS frac_ok, true AS subset_ok
        |FROM orders""") { (s, d) =>
      val kvT = KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
      val sampled = kvT.sample(0.2, 77L)
      val total = Tables.table(s, d, "orders")
        .agg(count(lit(1)).as("total"))
      val cnt = sampled.agg(count(lit(1)).as("c"))
      val leak = sampled.select("o_orderkey")
        .join(Tables.table(s, d, "orders"), Seq("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("leaked"))
      total.crossJoin(cnt).crossJoin(leak)
        .select(col("total"),
          // adaptive band: 2% of N or 5 binomial sd, whichever is
          // wider — a regenerated small corpus must not flip the gate
          (abs(col("c") - col("total") * 0.2) <=
            greatest(col("total") * 0.02,
              sqrt(col("total") * 0.2 * 0.8) * 5.0))
            .as("frac_ok"),
          (col("leaked") === 0).as("subset_ok"))
    },

    // the columns METADATA TABLE (`t.columns` — per-column statistics
    // as a queryable relation): exact V10 null counts and zone-map
    // bounds hash-check against the parquet truth — integral bounds
    // render identically cross-engine, and since V12 STRING columns
    // carry byte-order zone bounds too (short values, so the claims
    // are exact and equal the true min/max)
    QuerySpec.checked("kv41_columns_metadata_table",
      """SELECT 'o_custkey' AS column_name,
        |  CAST(count(*) - count(o_custkey) AS BIGINT) AS null_count,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_v,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_v
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus',
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |ORDER BY column_name""") { (s, d) =>
      ensure(s, d, "orders", Seq("o_orderkey"))
      val cat = fixtureCatalog(s, d)
      s.sql(
        s"""SELECT column_name, null_count, min AS min_v, max AS max_v
           |FROM $cat.orders.columns
           |WHERE column_name IN ('o_custkey', 'o_orderstatus')
           |ORDER BY column_name""".stripMargin)
    },

    // COUNT(col) from metadata (V10 exact per-segment null counts):
    // rows minus nulls, zero data bytes on a disjoint tombstone-free
    // table — COUNT joins SUM/MIN/MAX on the coprocessor-analog path.
    // Hash-checkable: counts are exact, not estimates.
    QuerySpec.checked("kv40_metadata_count_col",
      """SELECT count(*) AS cnt_all, count(o_custkey) AS cnt_cust,
        |  count(o_orderstatus) AS cnt_status
        |FROM orders""") { (s, d) =>
      KvCommands.table(s, ensure(s, d, "orders", Seq("o_orderkey")))
        .agg(count(lit(1)).as("cnt_all"),
          count(col("o_custkey")).as("cnt_cust"),
          count(col("o_orderstatus")).as("cnt_status"))
    },

    // Pushed TopN: ORDER BY the key + LIMIT on a bulk-loaded kv table
    // plans only the tail segments (KvTopNSpec pins the partition
    // count); the values must still match the parquet truth exactly
    QuerySpec.checked("kv33_topk_by_key",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC LIMIT 10""") { (s, d) =>
      ordersKv(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey").desc).limit(10)
    },

    // Z-ORDER clustered table (multi-dim box queries on the sorted
    // store): orders keyed by the (o_custkey, o_orderkey) Morton
    // interleave; the box predicate prunes via the quadtree z-range
    // cover and the rows must be exactly the parquet original's box
    QuerySpec.checked("kv25_zorder_box",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 1000 AND 30000
        |ORDER BY o_orderkey""") { (s, d) =>
      KvCommands.table(s, ordersZPath(s, d))
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderkey").between(1000, 30000))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // DECIMAL money columns stored NATIVELY in the kv codec: exact
    // storage (no double round-trip), a pushed range filter on the
    // decimal value column (V13 zone claims prune segments; the
    // residual re-checks survivors), and exact SUM/MIN/MAX aggregation
    // over the decoded decimals, hash-matched against the parquet
    // truth. Grouped decimal aggregates are rendered to VARCHAR on
    // BOTH sides: the round-11 bisect (kv52 ungrouped raw-decimal
    // green, kv53 grouped raw-decimal red, kv54 — this query with
    // decimals string-rendered — green) proved the values equal
    // through the driver itself and isolated the miss to the driver's
    // hash canonicalization of multi-row grouped DECIMAL output, so
    // the canonical rendering is part of the declared query (same
    // class as the kv30/kv31 BIGINT and a16–a19 DECIMAL(38,6) width
    // pins; full write-up in SURVEY §13).
    QuerySpec.checked("kv47_decimal_money",
      """SELECT l_returnflag,
        |  CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
        |  CAST(CAST(min(p) AS DECIMAL(38,2)) AS VARCHAR) AS min_price,
        |  CAST(CAST(max(p) AS DECIMAL(38,2)) AS VARCHAR) AS max_price,
        |  count(*) AS cnt
        |FROM (SELECT l_returnflag,
        |        CAST(concat(CAST(l_partkey AS VARCHAR), '.',
        |             lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0'))
        |          AS DECIMAL(12,2)) AS p
        |      FROM lineitem)
        |WHERE p > 50
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      lineitemDecKv(s, d)
        .filter(col("price_dec") > 50)
        .groupBy("l_returnflag")
        .agg(sum(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("sum_price"),
          min(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("min_price"),
          max(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("max_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // Grouped decimal aggregate WITHOUT a filter — the other half of
    // the round-11 bisect, restated with the same canonical VARCHAR
    // rendering (see kv47 note). Raw-decimal-through-the-driver
    // coverage stays with the ungrouped kv48 metadata-agg gate; the
    // retired kv52/kv54 bisect probes are documented in SURVEY §13.
    QuerySpec.checked("kv53_decimal_grouped_total",
      """SELECT l_returnflag,
        |  CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
        |  CAST(CAST(min(p) AS DECIMAL(38,2)) AS VARCHAR) AS min_price,
        |  CAST(CAST(max(p) AS DECIMAL(38,2)) AS VARCHAR) AS max_price,
        |  count(*) AS cnt
        |FROM (SELECT l_returnflag,
        |        CAST(concat(CAST(l_partkey AS VARCHAR), '.',
        |             lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0'))
        |          AS DECIMAL(12,2)) AS p
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      lineitemDecKv(s, d)
        .groupBy("l_returnflag")
        .agg(sum(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("sum_price"),
          min(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("min_price"),
          max(col("price_dec")).cast(DecimalType(38, 2)).cast("string")
            .as("max_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    },

    // DECIMAL aggregation from pure METADATA (V13 zone claims): the
    // null-free money column's unfiltered SUM/MIN/MAX/COUNT answer
    // from merged per-segment claims — the unscaled sums make the
    // decimal SUM exact, zero data bytes read (KvAggPushSpec-style
    // plan pinning lives in DecimalCodecSpec; here the VALUES are
    // hash-matched against the parquet truth)
    QuerySpec.checked("kv48_decimal_metadata_agg",
      """SELECT CAST(sum(p) AS DECIMAL(38,2)) AS sum_price,
        |  CAST(min(p) AS DECIMAL(38,2)) AS min_price,
        |  CAST(max(p) AS DECIMAL(38,2)) AS max_price,
        |  count(p) AS cnt_p, count(*) AS cnt
        |FROM (SELECT CAST(concat(CAST(l_partkey AS VARCHAR), '.',
        |             lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0'))
        |          AS DECIMAL(12,2)) AS p
        |      FROM lineitem)""") { (s, d) =>
      lineitemDecKv(s, d)
        .agg(sum(col("price_dec")).cast(DecimalType(38, 2)).as("sum_price"),
          min(col("price_dec")).cast(DecimalType(38, 2)).as("min_price"),
          max(col("price_dec")).cast(DecimalType(38, 2)).as("max_price"),
          count(col("price_dec")).as("cnt_p"),
          count(lit(1)).as("cnt"))
    },

    // DECIMAL metadata percentiles (round 10): the money column's
    // whole-table approx_percentile answers from merged per-segment GK
    // summaries that ingested the UNSCALED long — exact in the value
    // domain (the double path the old wholesale refusal guarded
    // against is never taken), so the answer is always a real cents
    // value. Like kv42 the answered VALUE is merge-order-dependent;
    // the in-band invariant is the ε-rank contract vs the parquet
    // truth at p50 and p90, and the exact non-null count is the
    // DuckDB-hashed column. The derived decimal is built from integer
    // columns by string concat on BOTH sides (engine-independent).
    QuerySpec.checked("kv49_decimal_metadata_percentile",
      """SELECT count(p) AS n_p, true AS p50_ok, true AS p90_ok
        |FROM (SELECT CAST(concat(CAST(l_partkey AS VARCHAR), '.',
        |             lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0'))
        |          AS DECIMAL(12,2)) AS p
        |      FROM lineitem)""") { (s, d) =>
      val eps = graft.store.SegmentFile.QsRelativeError
      val m = lineitemDecKv(s, d).agg(
        percentile_approx(col("price_dec"), lit(0.5), lit(10000)).as("m50"),
        percentile_approx(col("price_dec"), lit(0.9), lit(10000)).as("m90"))
      val pq = Tables.table(s, d, "lineitem").select(expr(
        "CAST(concat(cast(l_partkey as string), '.', " +
          "lpad(cast(l_suppkey % 100 as string), 2, '0')) AS DECIMAL(12,2))")
        .as("p"))
      pq.crossJoin(m).agg(
        count(col("p")).as("n_p"),
        count(when(col("p") < col("m50"), 1)).as("lt50"),
        count(when(col("p") <= col("m50"), 1)).as("le50"),
        count(when(col("p") < col("m90"), 1)).as("lt90"),
        count(when(col("p") <= col("m90"), 1)).as("le90"))
        .select(col("n_p"),
          (col("lt50") <= col("n_p") * 0.5 + col("n_p") * eps + 1 &&
            col("le50") >= col("n_p") * 0.5 - col("n_p") * eps - 1)
            .as("p50_ok"),
          (col("lt90") <= col("n_p") * 0.9 + col("n_p") * eps + 1 &&
            col("le90") >= col("n_p") * 0.9 - col("n_p") * eps - 1)
            .as("p90_ok"))
    },

    // zstd-compressed segments (round 10, `segment.compress` table
    // property): the text-heavy documents corpus through the full read
    // stack — a pushed key range (index-floor seek across compressed
    // frames), a value-zone-prunable residual, and full text decode —
    // hash-matched against the parquet truth. The whole pruning/seek
    // layer is codec-oblivious by construction (all offsets are
    // logical); this gate proves it on driver hardware every round.
    QuerySpec.checked("kv50_compressed_scan",
      """SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS first_doc
        |FROM documents
        |WHERE doc_id BETWEEN 10 AND 400 AND n_chars > 120
        |GROUP BY lang ORDER BY lang""") { (s, d) =>
      documentsZstdKv(s, d)
        .filter(col("doc_id").between(10, 400) && col("n_chars") > 120)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    },

    // BM25 retrieval OVER THE KV STORE: the same ranking as ir1 (same
    // oracle) computed from the zstd-compressed documents kv table —
    // text analytics composes with the storage engine end-to-end
    // (compressed scan → tokenize → filtered explode → score), and the
    // hash match proves the kv read path is lossless under a
    // text-processing consumer, not just under SQL aggregates.
    QuerySpec.checked("kv51_bm25_on_kv", PipelineOps.bm25OracleSql) { (s, d) =>
      graft.pipeline.Retrieval.bm25TopK(
        documentsZstdKv(s, d).select("doc_id", "text"),
        PipelineOps.bm25Query, k = 10)
    },

    // 3-dim z-curve with a STRING middle dimension: numeric lead range ×
    // string point × numeric range — exercises the UTF-8-prefix dim
    // codes and a mixed-type box end-to-end against the parquet truth
    QuerySpec.checked("kv27_zorder_3d",
      """SELECT user_id, event_type, event_id, value FROM events
        |WHERE user_id BETWEEN 3 AND 10 AND event_type = 'purchase'
        |  AND event_id BETWEEN 100 AND 700
        |ORDER BY user_id, event_id""") { (s, d) =>
      KvCommands.table(s, eventsZPath(s, d))
        .filter(col("user_id").between(3, 10) &&
          col("event_type") === "purchase" &&
          col("event_id").between(100, 700))
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_id")
    }
  )
}
