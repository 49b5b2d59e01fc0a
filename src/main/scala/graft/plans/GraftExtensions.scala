package graft.plans

import graft.functions.{CosineSimilarity, RegexpCountFast, SimHash64}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal, RegExpExtractAll, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: `size(regexp_extract_all(s, p, 0))` — the expansion
  * Spark's own `regexp_count` lowers to — becomes the allocation-free
  * native counter [[graft.functions.RegexpCountFast]].
  *
  * Guarded on legacySizeOfNull = false (the Spark 3+/4 default): with the
  * legacy flag, `size(null)` is -1 while the native counter is
  * null-intolerant, so the shapes differ and the rewrite is skipped.
  */
object CollapseRegexCount extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(RegExpExtractAll(s, p, Literal(0, IntegerType)), false) =>
      RegexpCountFast(s, p)
  }
}

/** SparkSessionExtensions entry point (SURVEY.md §7.3 extension ladder):
  * injects the optimizer rule above and registers the engine's native
  * expressions as SQL functions. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` —
  * the Verify and Bench mains do.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.singlePartitionWindowFilter
    ext.injectOptimizerRule(_ => CollapseRegexCount)
    def arity(name: String, n: Int, exprs: Seq[_]): Unit =
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
    ext.injectFunction((new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("simhash64", 1, exprs)
        SimHash64(exprs.head)
      }))
    ext.injectFunction((new FunctionIdentifier("regexp_count_fast"),
      new ExpressionInfo(classOf[RegexpCountFast].getName, "regexp_count_fast"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("regexp_count_fast", 2, exprs)
        RegexpCountFast(exprs.head, exprs(1))
      }))
    ext.injectFunction((new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("cosine_sim", 2, exprs)
        CosineSimilarity(exprs.head, exprs(1))
      }))
  }
}

object GraftExtensions {
  val WindowExecLogger = "org.apache.spark.sql.execution.window.WindowExec"

  /** t16/s11 intentionally run an unpartitioned window over a k-row
    * AGGREGATE (k = languages / clusters), which is safe by design but
    * makes WindowExec WARN "No Partition Defined ..." on every execution
    * — 6+ lines of spam in every driver bench tail (round-5 VERDICT
    * "What's wrong" #5); both windows are documented at their use sites.
    * A log4j filter on the WindowExec logger drops ONLY that message;
    * the logger's level is untouched, so every other WindowExec warning
    * still logs. Installed once per JVM (a lazy val: the extension
    * applies on every session build).
    */
  lazy val singlePartitionWindowFilter: Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val lc = config.getLoggerConfig(WindowExecLogger) match {
      case own if own.getName == WindowExecLogger => own
      case _ =>
        // level null = inherit the parent's level; additive = the
        // parent's appenders still receive every event that passes
        val own = new LoggerConfig(WindowExecLogger, null, true)
        config.addLogger(WindowExecLogger, own)
        own
    }
    lc.addFilter(RegexFilter.createFilter("^No Partition Defined for Window operation!.*",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }
}
