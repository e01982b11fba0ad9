package perfbench

import java.util.IdentityHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

import graft.log.{CacheLog, LogLevel}
import graft.plans.CacheReplayExec

/** Wall clock in epoch µs with `nanoTime` resolution, so spans from the
  * client and from Spark's listener events (epoch ms) share one axis. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(nanos: Long): Long = baseMicros + (nanos - baseNanos) / 1000L
  def nowMicros: Long = micros(System.nanoTime())
}

final case class Stamp(nanos: Long, warn: Boolean, msg: String)

/** The benchmark's decision sink: timestamps every `CacheLog` message. */
final class StampLog extends CacheLog {
  private val buf = ArrayBuffer.empty[Stamp]
  override def log(level: LogLevel, fingerprint: String, msg: String): Unit = {
    val t = System.nanoTime()
    synchronized { buf += Stamp(t, level == LogLevel.Warn, msg) }
  }
  def take(): Seq[Stamp] = synchronized { val r = buf.toSeq; buf.clear(); r }
}

final case class StageRec(stageId: Int, tasks: Int, startMs: Long, endMs: Long,
    cpuNs: Long, gcMs: Long, recordsRead: Long, bytesRead: Long,
    shuffleBytes: Long)
final case class JobRec(jobId: Int, tag: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])

/** Scan and replay counts read from the executed plans of one operation. */
final case class PlanCounts(sourceRows: Long = 0, sourceBytes: Long = 0,
    sourceFiles: Long = 0, stateRows: Long = 0, stateBytes: Long = 0,
    replayedRows: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(sourceRows + o.sourceRows,
    sourceBytes + o.sourceBytes, sourceFiles + o.sourceFiles,
    stateRows + o.stateRows, stateBytes + o.stateBytes,
    replayedRows + o.replayedRows)
}

/** Everything the traced run records for one query. */
final case class QueryTrace(stamps: Seq[Stamp], jobs: Seq[JobRec],
    stages: Seq[StageRec], plan: PlanCounts, fileBytesRead: Long,
    stateFilesWritten: Long, stateBytesWritten: Long)

/** `detail` is an optional JSON object with the span's own counts */
final case class Span(id: Int, name: String, parent: Int, query: Int,
    startUs: Long, endUs: Long, detail: String = "")

/** Records Spark jobs and stages launched under a [[Tracer.TagKey]] local
  * property, i.e. by a traced operation of the client thread. */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val open = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val wanted = scala.collection.mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
      .foreach { tag =>
        open(e.jobId) = JobRec(e.jobId, tag, e.time, e.time,
          e.stageInfos.map(_.stageId))
        wanted ++= e.stageInfos.map(_.stageId)
      }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      if (wanted.remove(s.stageId)) {
        val m = s.taskMetrics
        stages += StageRec(s.stageId, s.numTasks,
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
          if (m == null) 0 else m.executorCpuTime,
          if (m == null) 0 else m.jvmGCTime,
          if (m == null) 0 else m.inputMetrics.recordsRead,
          if (m == null) 0 else m.inputMetrics.bytesRead,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten)
      }
    }
  def take(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val r = (jobs.toSeq, stages.toSeq)
    jobs.clear(); stages.clear()
    r
  }
}

/** Reads scan and replay metrics from every executed plan: file scans of
  * the events table (source) and of the cache root (state), and
  * `CacheReplayExec.numReplayedRows`. A metric is counted by its growth
  * since it was last seen, so a cached plan read again (the shared delta)
  * is not counted twice. */
final class PlanListener(sourceDir: String, cacheRoot: Option[String])
    extends QueryExecutionListener {
  private val seen = new IdentityHashMap[SQLMetric, java.lang.Long]()
  private var acc = PlanCounts()

  private def grow(m: Option[SQLMetric]): Long = m.map { x =>
    val prev = Option(seen.put(x, x.value)).map(_.longValue).getOrElse(0L)
    math.max(0L, x.value - prev)
  }.getOrElse(0L)

  private def under(dir: String, p: Path): Boolean =
    p.toUri.getPath.startsWith(new Path(dir).toUri.getPath)

  private def walk(p: SparkPlan, visited: IdentityHashMap[SparkPlan, Unit]): Unit =
    if (!visited.containsKey(p)) {
      visited.put(p, ())
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, visited)
        case s: QueryStageExec => walk(s.plan, visited)
        case c: CommandResultExec => walk(c.commandPhysicalPlan, visited)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan, visited)
        case f: FileSourceScanExec =>
          val roots = f.relation.location.rootPaths
          val rows = grow(f.metrics.get("numOutputRows"))
          val bytes = grow(f.metrics.get("filesSize"))
          val files = grow(f.metrics.get("numFiles"))
          if (cacheRoot.exists(r => roots.exists(under(r, _))))
            acc = acc + PlanCounts(stateRows = rows, stateBytes = bytes)
          else if (roots.exists(under(sourceDir, _)))
            acc = acc + PlanCounts(sourceRows = rows, sourceBytes = bytes,
              sourceFiles = files)
        case r: CacheReplayExec =>
          acc = acc + PlanCounts(replayedRows =
            grow(r.metrics.get("numReplayedRows")))
        case _ =>
      }
      (p.children ++ p.subqueries).foreach(walk(_, visited))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    walk(qe.executedPlan, new IdentityHashMap())
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def take(): PlanCounts = synchronized { val r = acc; acc = PlanCounts(); r }
}

/** The traced run's recorder. Listeners are attached only while a traced
  * cycle runs, so the run's untraced cycles measure the same program
  * without them; the difference is the tracing overhead. Spans stay in
  * memory and are written out once, when the run ends. */
final class Tracer(spark: SparkSession, sourceDir: String,
    cacheRoot: Option[String]) {
  val log = new StampLog
  private val jobs = new JobListener
  private val plans = new PlanListener(sourceDir, cacheRoot)
  private val spans = ArrayBuffer.empty[Span]
  private var attached = false

  def setActive(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    } else {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
    attached = on
    jobs.take(); plans.take(); log.take()
  }

  def active: Boolean = attached

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def span(name: String, parent: Int, query: Int, startUs: Long,
      endUs: Long, detail: String = ""): Int = {
    val id = spans.size + 1
    spans += Span(id, name, parent, query, startUs, endUs, detail)
    id
  }

  /** a span whose end is set later by [[close]] */
  def open(name: String, parent: Int, query: Int): Int =
    span(name, parent, query, Clock.nowMicros, 0L)

  def close(id: Int): Unit =
    spans(id - 1) = spans(id - 1).copy(endUs = Clock.nowMicros)

  /** Collects what the listeners and the log saw since the last call;
    * call after the operation returned. */
  def collect(fileBytesRead: Long, stateFiles: Long,
      stateBytes: Long): QueryTrace = {
    drain()
    val (js, ss) = jobs.take()
    QueryTrace(log.take(), js, ss, plans.take(), fileBytesRead, stateFiles,
      stateBytes)
  }

  /** Adds each job (and its stages) as child spans of `parentOf(tag)`. */
  def addSparkSpans(q: Int, t: QueryTrace, parentOf: String => Int): Unit = {
    val stageById = t.stages.map(s => s.stageId -> s).toMap
    t.jobs.foreach { j =>
      val jid = span("spark.job", parentOf(j.tag), q, j.startMs * 1000,
        j.endMs * 1000)
      j.stageIds.flatMap(stageById.get).filter(_.startMs > 0).foreach { s =>
        span("spark.stage", jid, q, s.startMs * 1000, s.endMs * 1000)
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  def write(file: String): Unit = {
    val f = new java.io.File(file)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val detail = if (s.detail.isEmpty) "" else s""","detail":${s.detail}"""
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""query":${s.query},"start_us":${s.startUs},"end_us":${s.endUs}$detail}""")
    } finally w.close()
  }
}

object Tracer {
  val TagKey = "perfbench.op"

  /** bytes read through the local (`file` scheme) Hadoop file system */
  @annotation.nowarn("cat=deprecation")
  def fileBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfMicros(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.id -> math.max(0L, (s.endUs - s.startUs) - covered)
    }.toMap
  }
}
