package perfbench

import scala.collection.mutable

/** Turns one run's records into its metrics: the end-to-end set from the
  * timed window, and (for a traced run) the per-layer set from the traced
  * cycles of that window. */
final class Metrics(ctx: Ctx, setupRuns: Seq[Double], warmupSeconds: Double,
    kernelMs: Seq[Double],
    heapMb: Double, diskMb: Double) {
  import Metrics._

  private val timed = ctx.queries.filter(_.timed)
  private val ok = timed.filter(_.ok).toSeq
  private val traced = ok.filter(_.trace.isDefined)
  private val untraced = ok.filter(_.trace.isEmpty)
  private val cycles = ctx.cycles.filter(_.timed).toSeq
  private val vanilla = ctx.vanilla.toSeq
  /** median of cached ÷ vanilla latency over the checked answers */
  private val vanillaRatio = quantile(vanilla.map { case (c, v) => c / v }, 0.5)

  val attempted: Int = ctx.queries.size
  val failed: Int = ctx.queries.count(!_.ok) + ctx.failures.count(_.startsWith("repairRange"))
  def correct: Boolean = ctx.failures.isEmpty && ok.nonEmpty

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("query_p50_ms", quantile(ok.map(_.ms), 0.5), "ms"),
    ("cycle_p50_ms", quantile(cycles.map(_.ms), 0.5), "ms"),
    // answered queries per second of timed cycle time, which also holds
    // the client's per-cycle work between queries (refreshCycle entry and
    // exit, DataFrame construction)
    ("queries_per_s",
      if (ok.isEmpty) 0.0 else ok.size / (cycles.map(_.ms).sum / 1000), "1/s"),
    ("heap_retained_mb", heapMb, "MB"),
    ("setup_s", quantile(setupRuns, 0.5) + warmupSeconds, "s"))

  /** Reported with the layers rather than gated: a window holds fewer than
    * the 100 queries that would put ten samples beyond the 90th percentile,
    * and the other three are zero by construction on some workloads. */
  def ungated: Seq[(String, Double, String)] = Seq(
    ("query_p90_ms", quantile(ok.map(_.ms), 0.9), "ms"),
    ("failed_op_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
    ("state_write_amp",
      if (ctx.appendedBytes == 0) 0.0
      else ctx.stateBytesWritten.toDouble / ctx.appendedBytes, "ratio"),
    ("cache_disk_mb", diskMb, "MB"))

  def perLayer: Seq[(String, Double, String)] = {
    val tr = traced.map(q => q -> q.trace.get)
    val outcomes = tr.map { case (q, t) => q -> outcome(t.stamps) }
    def ratio(p: String => Boolean) =
      if (outcomes.isEmpty) 0.0 else outcomes.count(o => p(o._2)).toDouble / outcomes.size
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perQuery(f: QueryTrace => Double) = mean(tr.map(x => f(x._2)))

    val decide = tr.flatMap { case (q, t) =>
      t.stamps.headOption.map(s => (s.nanos - q.startNanos) / 1e6) }
    val probe = tr.flatMap { case (_, t) =>
      for (first <- t.stamps.headOption; ans <- t.stamps.find(s => answering(s.msg)))
        yield (ans.nanos - first.nanos) / 1e6 }
    val probeHits = mutable.Map((Probes :+ "other").map(_ -> 0.0): _*)
    outcomes.foreach { case (_, o) =>
      if (o.startsWith("probe:")) {
        val p = o.stripPrefix("probe:")
        val k = if (Probes.contains(p)) p else "other"
        probeHits(k) += 1
      }
    }
    val roles = tr.map { case (q, t) => q -> sharedRole(t.stamps) }
    def roleMs(r: String) = roles.filter(_._2 == r).map(_._1.ms)
    val refreshCycles = roles.filter(_._2 != "none").map(_._1.cycle).distinct.size
    def perRefreshCycle(p: String => Boolean) =
      if (refreshCycles == 0) 0.0 else roles.count(x => p(x._2)).toDouble / refreshCycles
    val tracedCycles = tr.groupBy(_._1.cycle).values.map(_.map(_._2.fileBytesRead).sum.toDouble)
    val readAmp = tr.filter { case (q, _) => q.appended > 0 && !outcomes.toMap.apply(q).startsWith("miss") }
      .map { case (q, t) => t.plan.sourceRows.toDouble / q.appended }
    val misses = outcomes.filter(_._2 == "miss").map(_._1)
    val self = ctx.tracer.map(t => Tracer.selfMicros(t.allSpans)).getOrElse(Map.empty)
    val spans = ctx.tracer.map(_.allSpans).getOrElse(Nil)
    def selfMsPerQuery(names: Set[String]): Map[Int, Double] =
      spans.filter(s => names(s.name) && s.query > 0).groupBy(_.query)
        .map { case (q, ss) => q -> ss.map(s => self(s.id)).sum / 1000.0 }
    val execSelf = selfMsPerQuery(Set("exec.run", "exec.collect"))
    val jobSelf = selfMsPerQuery(Set("spark.job"))
    val stageSelf = selfMsPerQuery(Set("spark.stage"))
    val appendMs = spans.filter(_.name == "load.append").map(s => (s.endUs - s.startUs) / 1000.0)
    // the overhead compares like with like: queries CacheStats counts as
    // hits, of views answered both in traced and in untraced cycles
    def hitsOf(qs: Seq[QueryRec]) = qs.filter(q => q.hits > 0 && q.misses == 0)
    val both = hitsOf(traced).map(_.view).toSet intersect hitsOf(untraced).map(_.view).toSet
    val p50Traced = quantile(hitsOf(traced).filter(q => both(q.view)).map(_.ms), 0.5)
    val p50Untraced = quantile(hitsOf(untraced).filter(q => both(q.view)).map(_.ms), 0.5)

    Seq(
      ("exec.decide_ms_p50", quantile(decide, 0.5), "ms"),
      ("exec.probe_ms_p50", quantile(probe, 0.5), "ms"),
      ("exec.rewrite_ms_p50", quantile(traced.map(_.runMs), 0.5), "ms"),
      ("exec.finalize_ms_p50", quantile(traced.map(_.collectMs), 0.5), "ms"),
      ("exec.self_ms_p50", quantile(traced.map(q => execSelf.getOrElse(q.id, 0.0)), 0.5), "ms"),
      ("exec.jobs_per_query", perQuery(_.jobs.size.toDouble), "count"),
      ("exec.stages_per_query", perQuery(_.stages.size.toDouble), "count"),
      ("exec.tasks_per_query", perQuery(_.stages.map(_.tasks).sum.toDouble), "count"),
      ("exec.hit_ratio", ratio(_ == "hit"), "ratio"),
      ("exec.probe_hit_ratio", ratio(_.startsWith("probe:")), "ratio"),
      ("exec.miss_ratio", ratio(_ == "miss"), "ratio"),
      ("exec.bail_ratio", ratio(_ == "bail"), "ratio"),
      ("exec.fallback_ratio", ratio(_ == "fallback"), "ratio")) ++
    (Probes :+ "other").map(p => (s"exec.probe_hits.$p", probeHits(p), "count")) ++
    Seq(
      ("shared.first_view_ms_p50", quantile(roleMs("first"), 0.5), "ms"),
      ("shared.later_view_ms_p50", quantile(roleMs("served"), 0.5), "ms"),
      ("shared.served_views_per_cycle", perRefreshCycle(r => r == "first" || r == "served"), "count"),
      ("shared.bypassed_views_per_cycle", perRefreshCycle(_ == "bypass"), "count"),
      ("shared.file_bytes_read_per_cycle", mean(tracedCycles.toSeq), "bytes"),
      ("scan.rows_read_per_query", perQuery(_.plan.sourceRows.toDouble), "rows"),
      ("scan.bytes_read_per_query", perQuery(_.plan.sourceBytes.toDouble), "bytes"),
      ("scan.files_read_per_query", perQuery(_.plan.sourceFiles.toDouble), "count"),
      ("scan.read_amp", mean(readAmp), "ratio"),
      ("cache.state_bytes_written_per_query", perQuery(_.stateBytesWritten.toDouble), "bytes"),
      ("cache.state_files_written_per_query", perQuery(_.stateFilesWritten.toDouble), "count"),
      ("cache.state_bytes_read_per_query", perQuery(_.plan.stateBytes.toDouble), "bytes"),
      ("cache.state_rows_replayed_per_query", perQuery(_.plan.replayedRows.toDouble), "rows"),
      ("cache.segments_max", ctx.describes.map(_._1).maxOption.getOrElse(0).toDouble, "count"),
      ("cache.state_mb", ctx.describes.lastOption.map(_._2).getOrElse(0L) / 1048576.0, "MB"),
      ("cache.repair_query_ms_p50", quantile(traced.filter(_.afterRepair).map(_.ms), 0.5), "ms"),
      ("cache.capacity_miss_ratio",
        if (misses.isEmpty) 0.0 else misses.count(_.seenBefore).toDouble / misses.size, "ratio"),
      ("spark.cpu_ms_per_query", perQuery(_.stages.map(_.cpuNs).sum / 1e6), "ms"),
      ("spark.gc_ms_per_query", perQuery(_.stages.map(_.gcMs).sum.toDouble), "ms"),
      ("spark.shuffle_bytes_per_query", perQuery(_.stages.map(_.shuffleBytes).sum.toDouble), "bytes"),
      ("spark.job_self_ms_per_query", mean(traced.map(q => jobSelf.getOrElse(q.id, 0.0))), "ms"),
      ("spark.stage_ms_per_query", mean(traced.map(q => stageSelf.getOrElse(q.id, 0.0))), "ms"),
      ("load.append_ms_p50", quantile(appendMs, 0.5), "ms"),
      ("host.control_kernel_ms", quantile(kernelMs, 0.5), "ms"),
      ("host.drift_ratio", kernelMs.max / kernelMs.min, "ratio"),
      ("trace.overhead_pct",
        if (p50Untraced == 0) 0.0 else (p50Traced - p50Untraced) / p50Untraced * 100, "%"),
      ("trace.queries", traced.size.toDouble, "count"),
      ("vanilla.query_ms_p50", quantile(vanilla.map(_._2), 0.5), "ms"),
      ("vanilla.cached_ratio", vanillaRatio, "ratio")) ++ ungated
  }

  def resultJson(trace: Boolean): String = {
    val ms = (if (trace) perLayer else endToEnd).map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def summary(workload: String, seed: Long): String = {
    val lines = mutable.ArrayBuffer(
      s"workload $workload, seed $seed: ${timed.size} timed queries " +
        s"(${ok.size} ok) in ${cycles.size} cycles, $attempted attempted, $failed failed; " +
        s"CacheStats deltas over the window: hits=${timed.map(_.hits).sum} " +
        s"misses=${timed.map(_.misses).sum} bails=${timed.map(_.bails).sum}")
    (endToEnd ++ ungated).foreach { case (n, v, u) => lines += f"  $n%-22s ${num(v)}%14s $u" }
    lines += s"  set-up runs (s): ${setupRuns.map(s => f"$s%.2f").mkString(", ")}, " +
      f"warm-up $warmupSeconds%.2f s"
    lines += f"  vanilla Spark on ${vanilla.size} checked answers: p50 " +
      f"${quantile(vanilla.map(_._2), 0.5)}%.0f ms, cached ÷ vanilla p50 $vanillaRatio%.3f"
    lines += s"  control kernel (ms): ${kernelMs.map(k => f"$k%.1f").mkString(", ")}"
    lines += s"  timed cycles (ms): ${cycles.map(c => f"${c.ms}%.0f").mkString(" ")}"
    ctx.failures.take(20).foreach(f => lines += s"  FAILED: $f")
    lines.mkString("\n")
  }
}

object Metrics {
  /** probes the workloads' query shapes can be answered by */
  val Probes = Seq("regrain", "redim", "refilter", "remeasure")

  private val ProbeHit = """^(\w+)(?: \(rows\))? hit\b.*""".r

  /** `hit` (exact), `probe:<name>`, `miss`, `bail` (not cacheable) or
    * `fallback` (the rewrite failed and the query ran uncached), from the
    * query's decision messages */
  def outcome(stamps: Seq[Stamp]): String = {
    val msgs = stamps.map(_.msg)
    if (stamps.exists(s => s.warn && s.msg.contains("running uncached"))) "fallback"
    else if (msgs.exists(_.startsWith("cache miss"))) "miss"
    else msgs.collectFirst { case ProbeHit(p) if p != "cache" => s"probe:$p" }
      .getOrElse(if (msgs.exists(_.startsWith("cache hit"))) "hit" else "bail")
  }

  /** The query's part in a `refreshCycle`'s shared delta: `first` (it
    * registered the shared scan), `served` (its append read came from
    * the shared scan), `bypass` (it read its own delta) or `none` (no
    * shared-delta message: outside `refreshCycle`, or a miss). */
  def sharedRole(stamps: Seq[Stamp]): String = {
    val msgs = stamps.map(_.msg)
    if (msgs.exists(_.startsWith("shared delta: registered scan for"))) "first"
    else if (msgs.exists(_.startsWith("shared delta scan:"))) "served"
    else if (msgs.exists(m => m.startsWith("shared delta") &&
      (m.contains("bypassing shared scan") || m.contains("keeping private scans")))) "bypass"
    else "none"
  }

  /** the message that says how the query was answered */
  def answering(m: String): Boolean = m match {
    case ProbeHit(_) => true
    case _ => m.startsWith("cache miss")
  }

  /** linear interpolation between closest ranks; 0 for no samples */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString
}
