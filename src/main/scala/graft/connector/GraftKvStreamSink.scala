package graft.connector

import graft.io.SidecarFs
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import graft.store.RowCodec

/** Native streaming sink: `df.writeStream.format("graftkv")` — the
  * DSv2 restatement of the reference's real-time put path (S9) without
  * the foreachBatch detour. Each micro-batch appends Put records
  * through the shared commit protocol EXACTLY ONCE:
  *
  *  - Writers buffer-sort per task in bounded chunks
  *    ([[KvSortedChunkBuffer]], the delta writer's machinery), so the
  *    unsorted stream needs no distribution/ordering support from the
  *    streaming engine; later chunks' segments sort after earlier ones
  *    within the epoch's generation, keeping Put-upsert last-write-wins
  *    deterministic for duplicate keys inside one task.
  *  - Epoch idempotence is a 2-phase marker: an INTENT file carrying
  *    the committed file list lands atomically before the manifest
  *    swap, and is renamed to DONE after it. A replayed epoch (driver
  *    restart re-runs the batch and re-offers commit) that finds DONE
  *    just sweeps its duplicates; one that finds only INTENT repairs
  *    the manifest from the intent list (the crash hit between marker
  *    and swap) — or, if those files were aborted away, commits its own
  *    identical batch. Markers older than the previous epoch are
  *    deleted at each commit (only the latest epoch can ever replay).
  *  - Generations are base + epochId + 1: monotone within a query and
  *    across restarts (a re-created sink's base only grows), so the kv
  *    streaming SOURCE sees each epoch as an ordinary commit window.
  *
  * Concurrent writers are safe at the segment level: the manifest CAS
  * (SegmentFile.commitManifest) means an interleaved batch INSERT or a
  * second stream can never drop this sink's committed segments. What
  * concurrency does NOT define is same-key ordering across writers —
  * two writers re-putting one key may tie on generation and resolve by
  * segment name (same stance as Spark's own cross-task ordering);
  * writers covering disjoint keys compose freely.
  */
class GraftKvStreamingWrite(path: String, schema: StructType,
    keys: Seq[String], encoding: String, queryId: String,
    maxSegBytes: Long = GraftKvDataWriter.DefaultMaxSegmentBytes)
    extends StreamingWrite {

  private val baseGen: Long = GraftKvCommitProtocol.nextGen(path) - 1L

  // z-clustered sink: a stream writes the LOGICAL schema and the sink
  // derives the `_z` lead per row from the table's persisted dim specs
  // — the buffered Put path sorts rows itself, so (unlike the batch
  // write's RequiresDistributionAndOrdering) nothing forces the column
  // into the input plan
  private val zdims: Seq[graft.codec.ZDim] =
    GraftKvMeta.read(path).map(_.zorder).getOrElse(Nil)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftKvStreamingWriterFactory(path, schema, keys, encoding, baseGen,
      maxSegBytes, zdims)

  private def intent(epochId: Long) =
    SidecarFs.child(path, s"._graft_epoch-$queryId-$epochId.intent")
  private def done(epochId: Long) =
    SidecarFs.child(path, s"._graft_epoch-$queryId-$epochId.done")

  private def writeMeta = KvTableMeta(schema, keys, encoding)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.collect {
      case GraftKvCommit(files) => files
    }.flatten.toSet
    if (SidecarFs.exists(done(epochId))) {
      // the epoch IS committed (manifest swapped) — drop the replay
      GraftKvCommitProtocol.abortFiles(path, messages)
    } else if (SidecarFs.exists(intent(epochId))) {
      // crashed between marker and swap (or between swap and rename —
      // then the union below is a no-op)
      val prior = SidecarFs.readString(intent(epochId))
        .split("\n").filter(_.nonEmpty).toSet
      if (prior.forall(f => SidecarFs.exists(SidecarFs.child(path, f)))) {
        GraftKvCommitProtocol.commit(path, prior, writeMeta)
        markDone(epochId)
        GraftKvCommitProtocol.abortFiles(path, messages)
      } else {
        // the first attempt's files were aborted away — the replay's
        // (identical, sources replay deterministically) batch commits
        writeIntent(epochId, fresh)
        GraftKvCommitProtocol.commit(path, fresh, writeMeta)
        markDone(epochId)
      }
    } else {
      writeIntent(epochId, fresh)
      GraftKvCommitProtocol.commit(path, fresh, writeMeta)
      markDone(epochId)
    }
    // GC: only the LATEST epoch can ever be re-offered; older markers
    // are dead weight in the table dir (constant-time trailing sweep)
    Seq(intent(epochId - 2), done(epochId - 2))
      .foreach(SidecarFs.deleteIfExists)
  }

  private def writeIntent(epochId: Long, files: Set[String]): Unit = {
    SidecarFs.mkdirs(path)
    SidecarFs.writeStringAtomic(intent(epochId), files.mkString("\n"))
  }

  private def markDone(epochId: Long): Unit =
    SidecarFs.moveReplace(intent(epochId), done(epochId))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftKvCommitProtocol.abortFiles(path, messages)
}

class GraftKvStreamingWriterFactory(path: String, schema: StructType,
    keys: Seq[String], encoding: String, baseGen: Long,
    maxSegBytes: Long = GraftKvDataWriter.DefaultMaxSegmentBytes,
    zdims: Seq[graft.codec.ZDim] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftKvBufferedPutWriter(path, schema, keys, encoding,
      baseGen + epochId + 1, partitionId, taskId, maxSegBytes, zdims)
}

/** Put writer for unsorted input: one [[KvSortedChunkBuffer]], drained
  * in bounded chunks. Within-chunk duplicate keys keep the later put
  * (TreeMap overwrite); across chunks the segment-name sequence keeps
  * the later chunk winning; across tasks a key's order within one
  * micro-batch is undefined (as it is in Spark itself). */
class GraftKvBufferedPutWriter(path: String, schema: StructType,
    keys: Seq[String], encoding: String, gen: Long,
    partitionId: Int, taskId: Long,
    maxSegBytes: Long = GraftKvDataWriter.DefaultMaxSegmentBytes,
    zdims: Seq[graft.codec.ZDim] = Nil)
    extends DataWriter[InternalRow] {

  // derive the z-lead per row when the input carries the logical schema
  private val augmentZ = zdims.nonEmpty && !schema.fieldNames.contains("_z")
  private val effSchema =
    if (augmentZ)
      schema.add("_z", org.apache.spark.sql.types.LongType, nullable = false)
    else schema
  private val zOrds = zdims.map(d => schema.fieldIndex(d.name)).toArray
  private val zTypes =
    zdims.map(d => schema(schema.fieldIndex(d.name)).dataType).toArray
  private val zMins = zdims.map(_.minCode).toArray
  private val zShifts = zdims.map(_.shift).toArray

  private val buf = new KvSortedChunkBuffer(path, effSchema, keys, encoding,
    gen, partitionId, taskId, tombstone = false, maxSegBytes)

  private def withZ(row: InternalRow): InternalRow = {
    val n = schema.length
    val vals = new Array[Any](n + 1)
    var i = 0
    while (i < n) { vals(i) = row.get(i, schema(i).dataType); i += 1 }
    val codes = new Array[Long](zOrds.length)
    i = 0
    while (i < codes.length) {
      codes(i) =
        if (row.isNullAt(zOrds(i))) 0L // nulls-first, as the kernel
        else graft.codec.ZOrder.dimCode(zTypes(i), row.get(zOrds(i), zTypes(i)))
      i += 1
    }
    vals(n) = graft.codec.ZOrder.zValueScaled(codes, zMins, zShifts)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  override def write(row: InternalRow): Unit = {
    buf.put(if (augmentZ) withZ(row) else row)
    if (buf.size >= KvSortedChunkBuffer.FlushRows) buf.drain()
  }

  override def commit(): WriterCommitMessage = {
    buf.drain()
    GraftKvCommit(buf.files)
  }

  override def abort(): Unit = buf.abort()
  override def close(): Unit = ()
}
