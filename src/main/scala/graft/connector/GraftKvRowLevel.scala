package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.store.RowCodec

/** DSv2 row-level operations — SQL `UPDATE`, `MERGE INTO`, and
  * subquery-conditioned `DELETE` on kv tables — as a DELTA write
  * (`SupportsDelta`), not a group rewrite: Spark rewrites the statement
  * into a plan that emits only the CHANGED rows, and this write lands
  * them as ordinary Put-upsert records and tombstones. An UPDATE/MERGE
  * therefore costs a pruned scan plus an append proportional to the
  * touched rows — never a table rewrite (the group-based alternative
  * rewrites every affected segment). This completes the DML story the
  * reference's store expresses as HBase Put/Delete mutations
  * (reference HBaseRelation.scala insert/delete paths) at the SQL
  * statement level its parser never had.
  *
  * Ordering contract: deletes commit at generation g, puts at g+1. A
  * key-moving UPDATE can tombstone a key one task while another task's
  * update moves a row INTO that key; the generation split makes the
  * incoming row win deterministically (SQL semantics: the statement's
  * final assignment owns the key), independent of task/file order.
  */
class GraftKvRowLevelOperation(path: String, schema: StructType,
    keys: Seq[String], encoding: String,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The candidate-row scan is the ordinary table scan: filter/column
    * pushdown and segment pruning all apply to finding the rows a
    * statement touches. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftKvScanBuilder(path, schema, keys, encoding, None, None, None)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftKvDeltaWrite(path, schema, keys, encoding,
          info.rowIdSchema().orElse(StructType(keys.map(schema(_)))))
    }

  /** Row identity = the primary key (the HBase row-key analog). */
  override def rowId(): Array[NamedReference] =
    keys.map(k => Expressions.column(k)).toArray

  /** Updates arrive as (id, newRow) and are applied as one Put — plus a
    * tombstone of the old id when the update moves the key. Splitting
    * every update into delete+reinsert would put a tombstone AND a new
    * version on the SAME key in one commit, leaving the merge order to
    * file-name ties. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false
}

class GraftKvDeltaWrite(path: String, schema: StructType, keys: Seq[String],
    encoding: String, idSchema: StructType) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    // driver-side generation claim, one-writer contract (the rule every
    // writer shares): tombstones at gen, puts at gen+1
    private val gen: Long = GraftKvCommitProtocol.nextGen(path)

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new GraftKvDeltaWriterFactory(path, schema, keys, encoding, idSchema, gen)

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftKvCommitProtocol.commit(path,
        messages.collect { case GraftKvCommit(files) => files }.flatten.toSet,
        KvTableMeta(schema, keys, encoding))

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftKvCommitProtocol.abortFiles(path, messages)
  }
}

class GraftKvDeltaWriterFactory(path: String, schema: StructType,
    keys: Seq[String], encoding: String, idSchema: StructType, gen: Long)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftKvDeltaWriter(path, schema, keys, encoding, idSchema, gen,
      partitionId, taskId)
}

/** Per-task sorted chunk buffer, the shared kernel of the delta
  * (row-level DML) and streaming-sink writers: rows accumulate in key
  * order and drain into segments through the ordinary
  * [[GraftKvDataWriter]] (rotation, blooms, zone maps) in bounded
  * chunks — unsorted input needs no distribution/ordering support from
  * the engine, and memory is bounded by the chunk, not the batch.
  * Within a chunk a re-put key keeps the later row (TreeMap overwrite);
  * across chunks the drain passes an increasing segment-name sequence
  * ([[GraftKvDataWriter]] segSeqStart), so same-generation merge ties
  * resolve to the LATER chunk deterministically. */
private[connector] final class KvSortedChunkBuffer(path: String,
    schema: StructType, keys: Seq[String], encoding: String, gen: Long,
    partitionId: Int, taskId: Long, tombstone: Boolean,
    maxSegBytes: Long = GraftKvDataWriter.DefaultMaxSegmentBytes) {

  private val codec = RowCodec(schema, keys, encoding)
  // honor the table's persisted properties: the string-zone cap (claims
  // stay sound at any cap; this keeps DML-written segments' bounds as
  // deep as the bulk-written ones) and the declared segment size (an
  // explicit caller override wins)
  private val tableProps: Map[String, String] =
    try GraftKvMeta.read(path).map(_.props).getOrElse(Map.empty)
    catch { case _: Exception => Map.empty }
  private val zoneMaxChars: Int =
    tableProps.get(GraftKvMeta.StringZoneMaxCharsProp).map(_.toInt)
      .getOrElse(graft.store.SegmentFile.StringZone.MaxChars)
  private val segBytes: Long =
    if (maxSegBytes != GraftKvDataWriter.DefaultMaxSegmentBytes) maxSegBytes
    else tableProps.get(GraftKvMeta.SegmentMaxBytesProp).map(_.toLong)
      .getOrElse(maxSegBytes)
  private val compress: String =
    tableProps.getOrElse(GraftKvMeta.SegmentCompressProp,
      graft.store.SegmentFile.Compression.Default)
  private[connector] val rows =
    new java.util.TreeMap[Array[Byte], InternalRow](
      new java.util.Comparator[Array[Byte]] {
        def compare(a: Array[Byte], b: Array[Byte]): Int =
          codec.compareKeys(a, b)
      })
  private var chunk = 0
  var files = List.empty[String]

  def put(row: InternalRow): Unit = {
    val r = row.copy()
    rows.put(codec.encodeKey(r), r)
  }

  def putKeyed(key: Array[Byte], row: InternalRow): Unit =
    rows.put(key, row.copy())

  def encodeKey(row: InternalRow): Array[Byte] = codec.encodeKey(row)
  def sameKey(a: Array[Byte], b: Array[Byte]): Boolean =
    codec.compareKeys(a, b) == 0
  def size: Int = rows.size

  def drain(): Unit = if (!rows.isEmpty) {
    // the %06d segment-name field caps a task at 1M sequence numbers —
    // past it names stop sorting numerically and same-generation
    // last-write-wins tie-breaks would silently misresolve. Fail loudly
    // instead (a task this size should raise FlushRows/maxSegBytes).
    if ((chunk.toLong + 1L) * KvSortedChunkBuffer.ChunkSeqStride > 1000000L)
      throw new IllegalStateException(
        s"task exceeded ${1000000L / KvSortedChunkBuffer.ChunkSeqStride} " +
          "buffered chunks: segment-name sequence width would overflow")
    val w = new GraftKvDataWriter(path, schema, keys, partitionId, taskId,
      encoding, segBytes, gen, tombstone,
      segSeqStart = chunk * KvSortedChunkBuffer.ChunkSeqStride,
      zoneMaxChars = zoneMaxChars, compress = compress)
    chunk += 1
    rows.values().forEach(r => w.write(r))
    w.commit() match {
      case GraftKvCommit(fs) =>
        files = files ++ fs // record BEFORE the guard so abort() reclaims
        // a chunk that rotates past its sequence stride would overrun
        // the next chunk's range and break cross-chunk last-write-wins
        // for re-put keys — only reachable with a pathologically small
        // segment.maxBytes; reject the write rather than corrupt order
        if (fs.size >= KvSortedChunkBuffer.ChunkSeqStride)
          throw new IllegalStateException(
            s"chunk produced ${fs.size} segments ≥ stride " +
              s"${KvSortedChunkBuffer.ChunkSeqStride}: raise " +
              "segment.maxBytes (cross-chunk ordering would break)")
    }
    rows.clear()
  }

  def abort(): Unit =
    files.foreach { f =>
      graft.io.SidecarFs.deleteIfExists(graft.io.SidecarFs.child(path, f))
      graft.io.SidecarFs.deleteIfExists(
        graft.io.SidecarFs.child(path, f.stripSuffix(".kv") + ".kvmeta"))
    }
}

private[connector] object KvSortedChunkBuffer {
  /** Memory bound: past this many buffered rows a writer drains. */
  val FlushRows: Int = 1 << 16
  /** Per-chunk segment-name sequence stride (a 64k-row chunk rotates
    * far fewer than this many segments). */
  val ChunkSeqStride: Int = 1000
}

/** Buffers this task's delta in key order and replays it through the
  * ordinary segment writers, chunked ([[KvSortedChunkBuffer]]).
  * Buffering sidesteps any distribution/ordering demand on Spark's
  * delta plan; the held volume is bounded by the chunk. */
class GraftKvDeltaWriter(path: String, schema: StructType, keys: Seq[String],
    encoding: String, idSchema: StructType, gen: Long,
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {

  // tombstones at gen, puts at gen+1: cross-chunk and cross-task
  // same-key del/put conflicts resolve to the put, deterministically
  private val dels = new KvSortedChunkBuffer(path, idSchema, keys, encoding,
    gen, partitionId, taskId, tombstone = true)
  private val puts = new KvSortedChunkBuffer(path, schema, keys, encoding,
    gen + 1L, partitionId, taskId, tombstone = false)

  override def insert(row: InternalRow): Unit = {
    puts.put(row)
    maybeFlush()
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    val newKey = puts.encodeKey(row)
    val oldKey = dels.encodeKey(id)
    // a key-preserving update is a plain Put; a key-moving one also
    // tombstones the vacated key
    if (!puts.sameKey(oldKey, newKey)) dels.putKeyed(oldKey, id)
    puts.putKeyed(newKey, row)
    maybeFlush()
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    dels.put(id)
    maybeFlush()
  }

  override def write(row: InternalRow): Unit = insert(row)

  private def maybeFlush(): Unit =
    if (puts.size + dels.size >= KvSortedChunkBuffer.FlushRows) flushChunk()

  private def flushChunk(): Unit = {
    // a key deleted in this chunk that also receives a put is owned by
    // the put (the same rule the gen split applies across chunks/tasks)
    puts.rows.keySet().forEach(k => dels.rows.remove(k))
    dels.drain()
    puts.drain()
  }

  override def commit(): WriterCommitMessage = {
    flushChunk()
    GraftKvCommit(dels.files ++ puts.files)
  }

  /** Chunk flushes land files before the task commits — delete them on
    * abort (anything a crash strands is invisible behind the manifest
    * and reclaimed by the retention sweep / dropTable). */
  override def abort(): Unit = {
    dels.abort()
    puts.abort()
  }
  override def close(): Unit = ()
}
