package graft.sql

import graft.connector.{GraftKvAggScan, GraftKvScan}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, InterpretedUnsafeProjection, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Driver-side collect of one-partition kv reads (the reference's point
  * Get instead of a scan job, HBaseSQLReaderRDD.scala:268-315).
  *
  * A fully pinned key prunes a kv scan to one segment, yet collecting
  * it still pays for a whole Spark job: closure cleaning, task
  * serialization, scheduling and result transfer — several times the
  * read itself. This rule wraps an executed plan whose ROOT is a bare
  * graftkv scan (with its ColumnarToRow, unsafe-row Project and codegen
  * wrappers only, no runtime filters) in [[KvDriverCollectExec]], which
  * reads such a scan on the driver when it planned at most one
  * partition. A pushed aggregate's scan ([[GraftKvAggScan]]) always
  * plans one partition; the Project Spark puts over a complete
  * aggregate pushdown (renaming the scan's columns, or finishing an AVG
  * from its SUM and COUNT) is evaluated on the driver too.
  *
  * No option gates it: a one-partition job runs a single task anyway,
  * and `collect` brings every row to the driver anyway, so reading the
  * partition in the driver thread loses no parallelism, and the choice
  * depends only on a property the plan already exposes. Runs as a
  * post-transition columnar rule, so the root it sees is final except
  * for the codegen stages inserted after it. */
object KvDriverCollect extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!plan.supportsColumnar && scanOf(plan).isDefined) KvDriverCollectExec(plan)
    else plan

  /** The graftkv scan a bare-scan plan reads, looking through the
    * row-transition and codegen wrappers (a row-based scan gets an
    * identity Project that converts its rows to UnsafeRow) and, over an
    * aggregate scan, a deterministic Project; None for any other shape. */
  def scanOf(plan: SparkPlan): Option[BatchScanExec] = plan match {
    case b: BatchScanExec if b.runtimeFilters.isEmpty && (b.scan match {
        case _: GraftKvScan | _: GraftKvAggScan => true
        case _ => false
      }) => Some(b)
    case p: ProjectExec if p.projectList == p.child.output => scanOf(p.child)
    case p: ProjectExec if p.projectList.forall(_.deterministic) =>
      scanOf(p.child).filter(_.scan.isInstanceOf[GraftKvAggScan])
    case _: ColumnarToRowExec | _: WholeStageCodegenExec | _: InputAdapter =>
      scanOf(plan.children.head)
    case _ => None
  }
}

/** Collects a bare graftkv scan without a job when its input RDD has at
  * most one partition: zero partitions answer empty, one partition is
  * drained here through the scan's own reader factory (columnar, row or
  * merge readers — the same decode path a task runs). Anything wider
  * runs the child's normal job; `doExecute` always does. The scan node
  * stays in the tree, and its row count and custom metrics are updated
  * and posted from the driver, so plan introspection, the pruning
  * report and the SQL UI read the same numbers either way. */
case class KvDriverCollectExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    KvDriverCollect.scanOf(child) match {
      case Some(scan) => scan.inputRDD.partitions match {
        case Array() => Array.empty[InternalRow]
        case Array(p: DataSourceRDDPartition) => drain(scan, p.inputPartitions)
        case _ => child.executeCollect()
      }
      case None => child.executeCollect()
    }
  }

  private def drain(scan: BatchScanExec, parts: Seq[InputPartition]): Array[InternalRow] = {
    val factory = scan.readerFactory
    // an aggregate scan answers one row: projecting it interpreted costs
    // less than generating code for it would
    val toUnsafe =
      if (scan.scan.isInstanceOf[GraftKvAggScan]) InterpretedUnsafeProjection.createProjection(
        scan.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, nullable = true) })
      else UnsafeProjection.create(scan.schema)
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val readerMetrics = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def read[T](r: PartitionReader[T])(emit: T => Unit): Unit =
      try {
        while (r.next()) emit(r.get())
        r.currentMetricsValues().foreach(m => readerMetrics(m.name()) += m.value())
      } finally r.close()
    parts.foreach { p =>
      if (scan.supportsColumnar)
        read(factory.createColumnarReader(p)) { batch =>
          val it = batch.rowIterator()
          while (it.hasNext) rows += toUnsafe(it.next()).copy()
        }
      else read(factory.createReader(p))(row => rows += toUnsafe(row).copy())
    }
    // the Projects between the root and an aggregate scan, innermost
    // first (identity Projects only convert to UnsafeRow, which toUnsafe
    // did)
    val projected = child.collect {
      case p: ProjectExec if p.projectList != p.child.output => p
    }.reverse.foldLeft(rows.toArray) { (in, p) =>
      val project = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(p.projectList, p.child.output))
      in.map(r => project(r).copy())
    }
    // what the task would have reported: the row count of every node in
    // the chain that keeps one, and the readers' custom metrics
    val rowCounts = child.flatMap(_.metrics.get("numOutputRows"))
    rowCounts.foreach(_ += rows.length)
    val custom = readerMetrics.toSeq.flatMap { case (name, v) =>
      scan.customMetrics.get(name).map { m => m += v; m }
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), rowCounts ++ custom)
    projected
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KvDriverCollectExec =
    copy(child = newChild)
}
