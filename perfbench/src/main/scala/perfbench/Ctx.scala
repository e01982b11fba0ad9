package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.{QueryCacheConfig, QueryCacheSession}
import graft.log.{CacheLog, NoOpLog}

/** One query as the client saw it. `appended` counts rows appended since
  * this view's previous answer (-1 on its first). */
final case class QueryRec(id: Int, view: String, cycle: Int, timed: Boolean,
    startNanos: Long, runMs: Double, collectMs: Double, ok: Boolean,
    afterRepair: Boolean, appended: Long, seenBefore: Boolean,
    hits: Long, misses: Long, bails: Long, trace: Option[QueryTrace]) {
  def ms: Double = runMs + collectMs
}

final case class CycleRec(timed: Boolean, ms: Double)

/** State of one set-up of a workload: its table, its cache, and the
  * record of every operation. The client is closed-loop: each call
  * returns only after the answer is collected. */
final class Ctx(val spark: SparkSession, val workload: Workload,
    val seed: Long, val dir: String) {
  val events = new Events(spark, s"$dir/events", seed, workload.users)
  val cacheRoot: Option[String] = workload.cacheRoot(dir)
  val cache = workload.newCache(dir)
  /** workload-owned state that must survive from one cycle to the next */
  val state = mutable.Map.empty[String, Any]
  /** the workload's own random choices */
  val rng = new Random(seed * 7919L + 1L)
  private val sampleRng = new Random(seed * 104729L + 2L)

  var timed = false
  var tracer: Option[Tracer] = None
  var cycleIndex = 0

  val queries = ArrayBuffer.empty[QueryRec]
  val cycles = ArrayBuffer.empty[CycleRec]
  val failures = ArrayBuffer.empty[String]
  val describes = ArrayBuffer.empty[(Int, Long)] // (max segments, state bytes)
  /** (cached ms, vanilla ms) of every timed answer checked and found equal */
  val vanilla = ArrayBuffer.empty[(Double, Double)]
  var appendedBytes = 0L
  var stateBytesWritten = 0L

  private var excludedNanos = 0L
  private var repairPending = false
  private var parentSpan = 0
  private val lastAnswered = mutable.Map.empty[String, Long]
  private val seenViews = mutable.Set.empty[String]
  private val cacheFiles = mutable.Set.empty[String]
  private val pending = ArrayBuffer.empty[(Int, View, Array[Row])]
  private val lastCycle = ArrayBuffer.empty[(Int, View, Array[Row])]

  private def traced: Boolean = tracer.exists(_.active)

  /** time spent on the benchmark's own work inside a cycle (checks, trace
    * collection) is not part of the cycle's latency */
  private def excluded[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally excludedNanos += System.nanoTime() - t0
  }

  def session(log: CacheLog): QueryCacheSession =
    QueryCacheSession(spark, workload.configure(QueryCacheConfig(cache,
      defaultTemporalColumn = "ts",
      overrideNowMicros = Some(events.frontierMicros),
      strictUpperBound = true,
      temporalPartitionColumn = Some("ts_day"),
      log = log)))

  /** load generator: append `n` rows (timed, but not as the system's) */
  def append(n: Long): Unit = {
    val before = if (timed) events.bytes() else 0L
    loadSpan("load.append")(events.append(n))
    if (timed) appendedBytes += events.bytes() - before
  }

  /** rewrite a past day in place, then declare it with `repairRange` */
  def repair(day: Int, salt: Long): Unit = {
    val (lo, hi) = loadSpan("load.rewrite_day")(events.rewriteDay(day, salt))
    val marked = loadSpan("cache.repair_range")(
      cache.repairRange(events.path, lo, hi))
    if (marked == 0) failures += s"repairRange of day $day marked no entry"
    repairPending = true
  }

  private def loadSpan[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val id = tracer.get.open(name, parentSpan, 0)
      try f finally tracer.get.close(id)
    }

  /** One cycle: `body` answers queries on the current snapshot. Sampled
    * answers are checked against vanilla Spark afterwards, on the same
    * snapshot, outside every timing. */
  def cycle(body: QueryCacheSession => Unit): Unit = {
    val log = if (traced) tracer.get.log else NoOpLog
    val s = session(log)
    val span = if (traced) tracer.get.open("cycle", 0, 0) else 0
    parentSpan = span
    excludedNanos = 0L
    lastCycle.clear()
    val t0 = System.nanoTime()
    body(s)
    val ms = (System.nanoTime() - t0 - excludedNanos) / 1e6
    if (traced) tracer.get.close(span)
    parentSpan = 0
    cycles += CycleRec(timed, ms)
    pending.foreach { case (i, v, rows) => check(i, v, rows) }
    pending.clear()
    if (traced) describe()
    cycleIndex += 1
  }

  /** `refreshCycle` around a batch of views (the shared delta scan) */
  def refresh(s: QueryCacheSession)(f: => Unit): Unit =
    if (!traced) s.refreshCycle(f)
    else {
      val outer = parentSpan
      parentSpan = tracer.get.open("shared.refresh_cycle", outer, 0)
      try s.refreshCycle(f)
      finally { tracer.get.close(parentSpan); parentSpan = outer }
    }

  def query(s: QueryCacheSession, v: View): Unit = {
    val df = v.build(events.read())
    val id = queries.size + 1
    val tr = traced
    val sc = spark.sparkContext
    val stats = cache.stats
    val (h0, m0, b0) = (stats.hits, stats.misses, stats.bails)
    val fs0 = if (tr) Tracer.fileBytesRead() else 0L
    var rows: Array[Row] = null
    var error: Throwable = null
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      if (tr) sc.setLocalProperty(Tracer.TagKey, "run")
      val out = s.run(df)
      t1 = System.nanoTime()
      if (tr) sc.setLocalProperty(Tracer.TagKey, "collect")
      rows = out.collect()
    } catch {
      case NonFatal(e) => error = e
    } finally if (tr) sc.setLocalProperty(Tracer.TagKey, null)
    val t2 = System.nanoTime()
    excluded {
      if (error != null) {
        if (t1 == t0) t1 = t2
        failures += s"query $id (${v.name}) threw: $error"
      }
      val (files, bytes) = newCacheFiles()
      if (timed) stateBytesWritten += bytes
      val appended = lastAnswered.get(v.name).map(events.next - _).getOrElse(-1L)
      val trace = if (!tr) None else {
        val t = tracer.get.collect(Tracer.fileBytesRead() - fs0, files, bytes)
        spans(id, v.name, appended, t, t0, t1, t2)
        Some(t)
      }
      lastAnswered(v.name) = events.next
      queries += QueryRec(id, v.name, cycleIndex, timed, t0, (t1 - t0) / 1e6,
        (t2 - t1) / 1e6, error == null, repairPending, appended,
        !seenViews.add(v.name), stats.hits - h0, stats.misses - m0,
        stats.bails - b0, trace)
      if (error == null) {
        // a seeded 10 % sample now; the final answers after the window
        if (timed && sampleRng.nextDouble() < 0.1) pending += ((id, v, rows))
        else lastCycle += ((id, v, rows))
      }
      repairPending = false
    }
  }

  private def spans(id: Int, view: String, appended: Long, t: QueryTrace,
      t0: Long, t1: Long, t2: Long): Unit = {
    val tr = tracer.get
    val detail = s"""{"view":"$view","outcome":"${Metrics.outcome(t.stamps)}",""" +
      s""""shared":"${Metrics.sharedRole(t.stamps)}",""" +
      s""""appended_rows":$appended,"source_rows":${t.plan.sourceRows},""" +
      s""""source_files":${t.plan.sourceFiles},"replayed_rows":${t.plan.replayedRows},""" +
      s""""state_bytes_written":${t.stateBytesWritten},"jobs":${t.jobs.size}}"""
    val q = tr.span("query", parentSpan, id, Clock.micros(t0), Clock.micros(t2), detail)
    val run = tr.span("exec.run", q, id, Clock.micros(t0), Clock.micros(t1))
    val coll = tr.span("exec.collect", q, id, Clock.micros(t1), Clock.micros(t2))
    t.stamps.foreach { s =>
      val at = Clock.micros(s.nanos)
      tr.span(if (s.warn) "cachelog.warn" else "cachelog.info", run, id, at, at)
    }
    tr.addSparkSpans(id, t, tag => if (tag == "collect") coll else run)
  }

  /** files created under the cache root since the last call */
  private def newCacheFiles(): (Long, Long) = cacheRoot match {
    case None => (0L, 0L)
    case Some(root) =>
      val fresh = Events.listFiles(spark, root).filter(f => cacheFiles.add(f._1))
      (fresh.size.toLong, fresh.map(_._2).sum)
  }

  /** Compare one answer with vanilla Spark on the current snapshot; a
    * mismatch or a throwing vanilla run turns the query into a failure. */
  private def check(id: Int, v: View, rows: Array[Row]): Unit = {
    var vanillaMs = 0.0
    val verdict =
      try {
        val t0 = System.nanoTime()
        val want = v.build(events.read()).collect()
        vanillaMs = (System.nanoTime() - t0) / 1e6
        Check.diff(rows, want)
      } catch { case NonFatal(e) => Some(s"vanilla run threw: $e") }
    if (verdict.isEmpty && queries(id - 1).timed)
      vanilla += ((queries(id - 1).ms, vanillaMs))
    verdict.foreach { why =>
      failures += s"query $id (${v.name}) answer differs from vanilla: $why"
      queries(id - 1) = queries(id - 1).copy(ok = false)
    }
  }

  /** check every answer of the last cycle not already checked: the final
    * answer of each view on the final snapshot */
  def checkFinalAnswers(): Unit = {
    lastCycle.groupBy(_._2.name).values.map(_.last)
      .foreach { case (i, v, rows) => check(i, v, rows) }
    lastCycle.clear()
  }

  /** `describe()` of the cache: (longest append chain, state bytes) */
  def describe(): (Int, Long) = {
    val d = loadSpan("cache.describe")(
      cache.describe(spark).select("segments", "state_bytes").collect())
    val r = (if (d.isEmpty) 0 else d.map(_.getInt(0)).max,
      d.map(_.getLong(1)).filter(_ > 0).sum)
    describes += r
    r
  }

  def cacheDiskBytes: Long =
    cacheRoot.map(Events.listFiles(spark, _).map(_._2).sum).getOrElse(0L)
}
