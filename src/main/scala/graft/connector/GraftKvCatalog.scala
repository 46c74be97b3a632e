package graft.connector

import graft.io.SidecarFs
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Filesystem-backed `TableCatalog` for graftkv tables — the Spark-native
  * restatement of the reference's HBase `metadata`-table catalog
  * (/root/reference src/main/scala/.../HBaseCatalog.scala): table
  * metadata is the plain-text header of each manifest version under
  * `<root>/<namespace>/<table>/`, not a Java-serialized blob in a
  * catalog table of its own, and the whole DDL surface works through
  * stock SQL once the catalog is registered:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftKvCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/graft")
  * spark.sql("CREATE TABLE graft.db.t (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
  * spark.sql("INSERT INTO graft.db.t SELECT ...")   // O6/O7
  * spark.sql("SELECT * FROM graft.db.t WHERE k = 5")
  * spark.sql("SHOW TABLES IN graft.db")             // O4
  * spark.sql("DESCRIBE TABLE graft.db.t")           // O5
  * spark.sql("DROP TABLE graft.db.t")               // O2
  * }}}
  */
class GraftKvCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_catalog/$name")
    SidecarFs.mkdirs(root)
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private[graft] def tableDir(ident: Identifier): String =
    (Seq(root) ++ ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def listNames(dir: String): Seq[String] = SidecarFs.list(dir)

  // ── tables ─────────────────────────────────────────────────────────────

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = (Seq(root) ++ namespace.toSeq).mkString("/")
    if (!SidecarFs.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    // a table directory is one with a published manifest version
    listNames(d).filter(n => graft.store.SegmentFile
        .currentVersion(SidecarFs.child(d, n)).isDefined)
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def loadTable(ident: Identifier): Table =
    GraftKvMeta.read(tableDir(ident)) match {
      case Some(m) => new GraftKvTable(tableDir(ident), m.schema, m.keys, m.encoding)
      case None => metadataTable(ident).getOrElse(
        throw new NoSuchTableException(ident))
    }

  /** Metadata tables (`graft.db.t.snapshots`, `graft.db.t.segments`):
    * an identifier whose LAST namespace element is an existing table and
    * whose name is a metadata-table name resolves to a read-only
    * in-memory view of that table's commit log / segment inventory —
    * plain SQL tables, so inspection joins with everything else. A real
    * table always shadows a same-named metadata path (checked above). */
  private def metadataTable(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    if (ns.isEmpty || !GraftKvMetadataTable.Names.contains(
      ident.name().toLowerCase)) None
    else {
      val base = Identifier.of(ns.init, ns.last)
      GraftKvMeta.read(tableDir(base)).flatMap(m =>
        GraftKvMetadataTable.forName(tableDir(base), m, ident.name()))
    }
  }

  /** Time travel: `SELECT … FROM graft.db.t VERSION AS OF n` — Spark
    * routes the version literal here; `n` is a snapshot manifest version
    * (one per commit, see SegmentFile.commitManifest). The snapshot is a
    * frozen read-only view listed from its retained manifest and decoded
    * with that version's own declaration; it stays readable through the
    * retention window of compaction and overwrite, which both keep the
    * files they replace. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    snapshotTable(tableDir(ident), version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"graftkv snapshot versions are numeric commit ids; got '$version'")))
  }

  private def snapshotTable(dir: String, v: Long): Table = {
    val m = GraftKvMeta.readAsOf(dir, Some(v)).get
    new GraftKvTable(dir, m.schema, m.keys, m.encoding, Some(v))
  }

  /** Time travel by wall clock: `SELECT … FROM graft.db.t TIMESTAMP AS
    * OF ts` — the newest snapshot committed at or before `ts` (snapshot
    * manifest mtime = commit time; Spark hands micros). Retention
    * applies exactly as for VERSION AS OF: a `ts` before the oldest
    * retained snapshot has no consistent view and fails. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val tsMillis = timestamp / 1000L
    val versions = graft.store.SegmentFile.manifestVersions(dir)
    snapshotTable(dir, versions.filter(v => graft.store.SegmentFile
        .manifestVersionMtime(dir, v) <= tsMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no graftkv snapshot at or before timestamp $tsMillis " +
          s"(retained: ${versions.mkString(", ")})")))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftKvMeta.read(tableDir(ident)).isDefined

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val keys = Option(properties.get("key"))
      .orElse(Option(properties.get("option.key")))
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq(schema.fieldNames.head)) // default PK: first column
    require(keys.forall(schema.fieldNames.contains),
      s"key columns $keys not all present in ${schema.fieldNames.mkString(",")}")
    // per-table codec (reference DDL `IN stringformat`): validated here so
    // a bad CREATE fails at DDL time, not first write
    val encoding = Option(properties.get("encoding"))
      .orElse(Option(properties.get("option.encoding")))
      .getOrElse(graft.store.RowCodec.Binary)
    graft.store.RowCodec(schema, keys, encoding) // validates encoding + types
    // persisted table properties (string-zone truncation cap, segment
    // size) — recognized TBLPROPERTIES ride into the meta so every
    // later write honors them without restating
    val persistedProps = GraftKvMeta.PersistedProps.flatMap(p =>
      Option(properties.get(p)).orElse(Option(properties.get(s"option.$p")))
        .map(p -> _)).toMap
    persistedProps.get(GraftKvMeta.StringZoneMaxCharsProp).foreach(v =>
      require(v.toInt > 0, s"${GraftKvMeta.StringZoneMaxCharsProp} must be " +
        s"a positive codepoint count, got '$v'"))
    persistedProps.get(GraftKvMeta.SegmentMaxBytesProp).foreach(v =>
      require(v.toLong > 0, s"${GraftKvMeta.SegmentMaxBytesProp} must be " +
        s"a positive byte count, got '$v'"))
    // the table is born with manifest v1, its declaration over the
    // EMPTY set: its history starts at the empty table, and every later
    // commit CASes against a published base. A racing CREATE loses the
    // CAS and fails here.
    val meta = KvTableMeta(schema, keys, encoding, props = persistedProps)
    if (!graft.store.SegmentFile.createManifest(tableDir(ident),
        graft.store.SegmentFile.Manifest(GraftKvMeta.encode(meta), Set.empty)))
      throw new TableAlreadyExistsException(ident)
    new GraftKvTable(tableDir(ident), schema, keys, encoding)
  }

  /** ALTER: non-key column add/drop, metadata-only and valid on LIVE
    * tables (reference HBaseCatalog.scala:217-251) — segments are
    * self-describing (their sidecar carries the schema they were written
    * with), so existing data keeps decoding with its own layout and
    * added columns read as null until rewritten. One manifest CAS
    * applies the changes to the head's declaration, so a commit racing
    * the ALTER re-applies it to the winner's, never loses it. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val committed = graft.store.SegmentFile.commitManifest(dir) { base =>
      GraftKvMeta.decode(base.header).map(m => base.copy(
        header = GraftKvMeta.encode(altered(m, changes))))
    }
    val m = committed.flatMap(c => GraftKvMeta.decode(c.header))
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftKvTable(dir, m.schema, m.keys, m.encoding)
  }

  private def altered(m: KvTableMeta, changes: Seq[TableChange]): KvTableMeta = {
    var s = m.schema
    var props = m.props
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        val n = a.fieldNames()(0)
        if (s.fieldNames.contains(n))
          throw new IllegalArgumentException(s"column $n already exists")
        s = s.add(n, a.dataType(), a.isNullable)
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        val n = d.fieldNames()(0)
        if (m.keys.contains(n))
          throw new UnsupportedOperationException(s"cannot drop key column $n")
        // same hygiene for z-order dimensions: the stored _z interleave
        // and every future append/prune derive from this column — a
        // dangling zorder spec would silently disable z pruning and
        // break appends
        if (m.zorder.exists(_.name == n))
          throw new UnsupportedOperationException(
            s"cannot drop z-order dimension column $n (re-create the " +
              "table without it in ZORDER BY)")
        if (!s.fieldNames.contains(n))
          throw new IllegalArgumentException(s"no such column $n")
        s = StructType(s.fields.filterNot(_.name == n))
      case p: TableChange.SetProperty =>
        props = props + (p.property -> p.value)
      case rp: TableChange.RemoveProperty =>
        props = props - rp.property
      case other =>
        throw new UnsupportedOperationException(s"unsupported table change $other")
    }
    m.copy(schema = s, props = props)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) false
    else { KvCommands.dropTable(tableDir(ident)); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    SidecarFs.mkdirs(
      new org.apache.hadoop.fs.Path(tableDir(newIdent)).getParent.toString)
    SidecarFs.move(tableDir(oldIdent), tableDir(newIdent))
  }

  // ── namespaces ─────────────────────────────────────────────────────────

  override def listNamespaces(): Array[Array[String]] =
    listNames(root).filter(n => SidecarFs.isDirectory(SidecarFs.child(root, n)))
      .map(n => Array(n)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    SidecarFs.isDirectory((Seq(root) ++ namespace.toSeq).mkString("/"))

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    SidecarFs.mkdirs((Seq(root) ++ namespace.toSeq).mkString("/"))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graftkv namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = (Seq(root) ++ namespace.toSeq).mkString("/")
    if (!SidecarFs.isDirectory(d)) false
    else if (!cascade && listNames(d).nonEmpty) {
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    } else {
      SidecarFs.deleteRecursively(d); true
    }
  }
}
