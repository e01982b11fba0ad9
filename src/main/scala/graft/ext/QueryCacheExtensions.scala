package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.QueryCacheConfig
import graft.analysis.NowBounds
import graft.exec.IncrementalAggExecutor

/** Transparent mode (reference: with_query_cache registering a planner +
  * optimizer rule on the SessionStateBuilder, src/lib.rs:74-87): plain
  * `spark.sql(...)` / DataFrame actions get the incremental-agg rewrite
  * with no facade call.
  *
  * Two ways in:
  *  - running session:  `QueryCacheTransparent.enable(spark, config)`
  *    (public `spark.experimental.extraOptimizations` hook);
  *  - session config:   `spark.sql.extensions=graft.ext.QueryCacheExtensions`
  *    plus `QueryCacheTransparent.configure(config)` before first use.
  *
  * The rule runs driver-side Spark jobs (partial agg + cache put) while
  * the outer query is being optimized — the same planning-time cache I/O
  * the reference does (async cache entry fetch at physical planning,
  * src/aggregate.rs:367). A thread-local guards the rule against firing
  * on its own internal queries; every action is one cache "run", exactly
  * like one `ctx.sql().collect()` in the reference.
  *
  * now()-relative bounds: Catalyst's ComputeCurrentTime freezes
  * `now()`/`current_timestamp()` to per-run literals before any injected
  * OPTIMIZER rule runs, which would make such filters fingerprint
  * differently on every run (never hit, one state entry per run). The
  * extensions entry point therefore also injects [[NowBoundWrapRule]] at
  * ANALYSIS time (post-hoc resolution, pre-freeze): it hides pure-now()
  * bound sides inside [[graft.analysis.FrozenNowBound]] leaves that
  * ComputeCurrentTime cannot rewrite, so the cache rule sees the stable
  * shape — same fingerprint every run — and either consumes the bound at
  * bucket granularity (dynamicBoundBucketGranularity) or restores this
  * run's frozen literal before execution. KNOWN LIMIT: the runtime
  * `enable()` path cannot inject analyzer rules into a running session,
  * so now()-relative filters still always-miss there — use the
  * extensions config or the [[graft.QueryCacheSession]] facade.
  */
object QueryCacheTransparent {
  @volatile private[ext] var executor: Option[IncrementalAggExecutor] = None
  private[ext] def config: Option[QueryCacheConfig] = executor.map(_.config)
  private[ext] val inRewrite: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** register the shared config (used by both entry paths); one executor
    * per config so its per-fingerprint schema memo survives across runs */
  def configure(cfg: QueryCacheConfig): Unit = {
    executor = Some(new IncrementalAggExecutor(cfg))
  }

  /** enable on an already-running session */
  def enable(spark: SparkSession, cfg: QueryCacheConfig): Unit = {
    configure(cfg)
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[QueryCacheRule]))
      spark.experimental.extraOptimizations = existing :+ new QueryCacheRule(spark)
  }

  def disable(spark: SparkSession): Unit = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[QueryCacheRule])
    executor = None
  }
}

final class QueryCacheRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import QueryCacheTransparent._

  /** our own rewritten/internal plans carry "_g"/"_s" state column names */
  private def looksInternal(plan: LogicalPlan): Boolean =
    plan.exists {
      case a: Aggregate =>
        a.aggregateExpressions.exists(ne =>
          ne.name.startsWith("_s") || ne.name.startsWith("_g"))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = executor match {
      // aggregates route always; agg-free plans route only when they
      // filter (filterQueryRewrite declines everything but a stable
      // Filter/Project chain over a batch scan — cheap plan-only probe)
      // and never for streaming plans
      case Some(exec) if !inRewrite.get() && !looksInternal(plan) &&
          (plan.exists(_.isInstanceOf[Aggregate]) ||
            (!plan.isStreaming &&
              plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]))) =>
        inRewrite.set(true)
        try {
          exec.rewritePlan(spark, plan).getOrElse(plan)
        } catch {
          case e: Exception =>
            exec.config.log.warn("-",
              s"transparent rewrite failed, running vanilla: ${e.getMessage}")
            plan
        } finally inRewrite.set(false)
      case _ => plan
    }
    // any pre-freeze wrapper the rewrite did not consume (bail path,
    // non-aggregate plan, executor deconfigured) must become this run's
    // frozen literal — an Unevaluable leaf must never reach execution
    NowBounds.restoreAll(rewritten,
      executor.map(_.config.nowMicros())
        .getOrElse(System.currentTimeMillis() * 1000L),
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

/** Analysis-time (post-hoc resolution) companion to [[QueryCacheRule]]:
  * wraps pure-now() temporal bounds BEFORE ComputeCurrentTime can freeze
  * them, preserving the run-stable plan shape the fingerprint needs.
  * Only active when a transparent executor with dynamic-bound support is
  * configured; plain plan surgery — no jobs, no cache I/O. */
final class NowBoundWrapRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import QueryCacheTransparent._

  override def apply(plan: LogicalPlan): LogicalPlan = executor match {
    case Some(exec) if exec.config.dynamicBoundBucketGranularity &&
        !inRewrite.get() && plan.exists(_.isInstanceOf[Aggregate]) =>
      NowBounds.wrap(plan, exec.config)
    case _ => plan
  }
}

/** `spark.sql.extensions` entry point.
  *
  * The cache rule is injected PRE-CBO, not into the operator-optimization
  * batch: that batch is a fixed point that would fire the rule several
  * times per query on partially-optimized plans — an early fire can bail
  * (plan shape not yet recognizable), and its restore-to-literal would
  * destroy the pre-freeze wrapper before the real fire sees it. Pre-CBO
  * runs exactly once, after operator optimization, so the rule sees the
  * final shape and the restore safety-net can't race a later fire. */
class QueryCacheExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(session => new NowBoundWrapRule(session))
    ext.injectPreCBORule(session => new QueryCacheRule(session))
    graft.functions.GraftFunctions.inject(ext)
  }
}
