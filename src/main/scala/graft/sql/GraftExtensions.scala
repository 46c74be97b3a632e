package graft.sql

import graft.functions.{MinHashSignature, RollingHash}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extensions (the reference's HBaseSQLContext/dialect wiring,
  * /root/reference HBaseSQLContext.scala:29-51 + HBaseSQLDialect.scala,
  * restated as SparkSessionExtensions): registers the engine's native
  * expressions as SQL functions so `spark.sql` users get them too.
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or: spark.conf spark.sql.extensions=graft.sql.GraftExtensions
  * spark.sql("SELECT rolling_hash(text, 16), minhash_signature(shingles, 64) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.rollingHashFn)
    e.injectFunction(GraftExtensions.minhashFn)
    // LOAD DATA INPATH ... INTO TABLE ... (reference parser statement,
    // HBaseSQLParser.scala:213-222) — everything else delegates
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // materialized-view rewrite FIRST: an aggregate a view answers never
    // needs the index semi-join underneath it (rules run in injection
    // order within the optimization batch, and the index rewrite's
    // restructured Filter would hide the Aggregate-over-scan shape)
    e.injectOptimizerRule(s => KvMatViewRule(s))
    // secondary-index rewrite: Filter on an in-sync indexed column →
    // semi-join against the index's primary keys (runs in the operator
    // optimization batch, before V2 pushdown sees the relation)
    e.injectOptimizerRule(s => KvIndexRule(s))
    // whole-table approx_count_distinct from V9 NDV sketch metadata
    e.injectOptimizerRule(s => KvNdvRule(s))
    // whole-table approx_percentile from V11 quantile-summary metadata
    e.injectOptimizerRule(s => KvPercentileRule(s))
    // one-partition kv reads collect on the driver, without a job
    e.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def postColumnarTransitions = KvDriverCollect
    })
  }
}

object GraftExtensions {

  /** Silence Spark's "Can't translate true to source filter" WARN.
    *
    * Root cause (round-12 bisect): Spark's PartitionPruning inserts
    * SPECULATIVE dynamic-pruning filters on DSv2 scans with
    * `onlyInBroadcast = true` ("keep only if a broadcast can be
    * reused"); when AQE later finds no matching broadcast, the filter
    * correctly degenerates to `DynamicPruningExpression(true)` — and
    * `translateRuntimeFilterV2` then logs this WARN for every executed
    * stage carrying one (multi-table kv joins like the TPC-H-on-kv
    * gates hit it several times per query). The degenerate filter is
    * Spark's own cost-model outcome, carries no information, and file
    * sources take a different code path that stays silent — so the
    * noise is v2-specific log spam, not a graft defect (the
    * KvIndexRule reverse-DPP case WAS ours and is fixed at the source
    * via `runtime.filtering=false`). Filtered by MESSAGE, scoped to
    * this one logger: only the degenerate "Can't translate true …"
    * line is dropped — every other WARN the class emits (real filter
    * translation failures on other scans) still surfaces. */
  def quietDegenerateDppWarns(): Unit =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      val name =
        "org.apache.spark.sql.execution.datasources.v2.DataSourceV2Strategy"
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val lc = {
        val existing = cfg.getLoggerConfig(name)
        if (existing.getName == name) existing
        else {
          // no config node for this logger yet: add an additive one
          // (inherits level/appenders from the root) to hang the
          // message filter on
          val fresh = new LoggerConfig(name, null, true)
          cfg.addLogger(name, fresh)
          fresh
        }
      }
      lc.addFilter(new org.apache.logging.log4j.core.filter.AbstractFilter {
        import org.apache.logging.log4j.core.Filter.Result
        override def filter(event: org.apache.logging.log4j.core.LogEvent)
            : Result = {
          val msg = event.getMessage
          val text = if (msg == null) null else msg.getFormattedMessage
          if (text != null && text.contains("Can't translate true to source filter"))
            Result.DENY
          else Result.NEUTRAL
        }
      })
      ctx.updateLoggers()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[sql] val rollingHashFn = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
    (exprs: Seq[Expression]) => exprs match {
      case Seq(text) => RollingHash(text, 16)
      case Seq(text, w) => RollingHash(text, intLit(w, "window"))
      case _ => throw new IllegalArgumentException(
        "rolling_hash(text[, window]) takes 1 or 2 arguments")
    })

  private[sql] val minhashFn = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
    (exprs: Seq[Expression]) => exprs match {
      case Seq(arr) => MinHashSignature(arr, 64)
      case Seq(arr, k) => MinHashSignature(arr, intLit(k, "k"))
      case _ => throw new IllegalArgumentException(
        "minhash_signature(shingles[, k]) takes 1 or 2 arguments")
    })

  /** Imperative registration for sessions created without extensions
    * (e.g. the driver's own SparkSession). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("rolling_hash", rollingHashFn._3, "built-in")
    reg.createOrReplaceTempFunction("minhash_signature", minhashFn._3, "built-in")
  }
}
