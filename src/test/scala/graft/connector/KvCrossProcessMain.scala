package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Child-process appender for the cross-process CAS fuzz
  * (KvConcurrencySpec): commits `nCommits` batches of keys
  * `[lo, lo+rows)` tagged with this writer's name into one table, each
  * through the ordinary chunk writer + CAS commit protocol — no Spark
  * session, so the child starts in milliseconds and the interleaving
  * with the parent JVM's commits is genuinely cross-process. */
object KvCrossProcessMain {
  def main(args: Array[String]): Unit = {
    val Array(path, tag, loS, rowsS, commitsS) = args
    val (lo, rows, commits) = (loS.toLong, rowsS.toInt, commitsS.toInt)
    val schema = StructType.fromDDL("k BIGINT, v STRING")
    (0 until commits).foreach { c =>
      val w = new GraftKvBufferedPutWriter(path, schema, Seq("k"),
        graft.store.RowCodec.Binary, gen = c + 1L, partitionId = 0,
        taskId = c.toLong)
      val base = lo + c.toLong * rows
      (base until base + rows).foreach { k =>
        w.write(InternalRow(k, UTF8String.fromString(s"$tag-$k")))
      }
      w.commit() match {
        case GraftKvCommit(files) =>
          GraftKvCommitProtocol.commit(path, files.toSet,
            KvTableMeta(schema, Seq("k"), graft.store.RowCodec.Binary))
      }
    }
  }
}
