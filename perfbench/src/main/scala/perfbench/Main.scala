package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and writes the result JSON.
  *
  * {{{
  * perfbench.Main --workload dashboard_refresh --seed 1 --seconds 10
  *   --trace 0 --work <scratch dir> --result <file> [--spans <file>]
  * }}}
  *
  * The run sets the workload up [[SetupRuns]] times (table generation,
  * history write, cold cache build), runs untimed warm-up cycles on the
  * last set-up and reports `setup_s` as the median set-up plus the
  * warm-up; the last set-up then runs cycles for `--seconds`. With
  * `--trace 1` every other timed cycle is traced (listeners attached,
  * decisions stamped) and the per-layer metrics come from those cycles. */
object Main {
  val SetupRuns = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, result: String, spans: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"),
      kv.getOrElse("spans", s"${need("work")}/spans.jsonl"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads(o.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    try {
      val result = run(spark, w, o)
      val out = new java.io.PrintWriter(o.result, "UTF-8")
      try out.println(result) finally out.close()
    } finally spark.stop()
  }

  @volatile private var sink = 0L

  /** A fixed CPU-bound kernel; its spread over the run shows host drift. */
  def controlKernelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, w: Workload, o: Opts): String = {
    val kernel = Seq.newBuilder[Double]
    kernel += controlKernelMs()
    // Set-up = table generation, history write and cold cache build, made
    // SetupRuns times (median reported), then the untimed warm-up cycles
    // on the last one. Only the last set-up is kept: earlier caches must
    // not stay on the heap.
    var ctx: Ctx = null
    val setupRuns = (0 until SetupRuns).map { r =>
      if (ctx != null) Files.delete(spark, ctx.dir)
      ctx = new Ctx(spark, w, o.seed, s"${o.work}/setup$r")
      Files.delete(spark, ctx.dir)
      val t0 = System.nanoTime()
      ctx.events.writeHistory(w.history)
      w.cold(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    (1 to w.warmupCycles).foreach(_ => w.cycle(ctx))
    val warmupSeconds = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up runs ${setupRuns.map(s => f"$s%.2f").mkString(", ")} s, " +
      f"${w.warmupCycles} warm-up cycles $warmupSeconds%.2f s")
    kernel += controlKernelMs()

    ctx.timed = true
    val tracer = if (o.trace) Some(new Tracer(spark, ctx.events.path, ctx.cacheRoot))
      else None
    ctx.tracer = tracer
    ctx.describe()
    val window = System.nanoTime()
    while ((System.nanoTime() - window) / 1e9 < o.seconds) {
      // odd cycles are traced: they include every repair cycle of
      // durable_ingest (every 4th, starting at cycle 3)
      tracer.foreach(_.setActive(ctx.cycleIndex % 2 == 1))
      w.cycle(ctx)
    }
    tracer.foreach(_.setActive(false))
    ctx.checkFinalAnswers()
    ctx.describe()
    val diskMb = ctx.cacheDiskBytes / 1048576.0
    kernel += controlKernelMs()
    val heapMb = retainedHeapMb()

    val m = new Metrics(ctx, setupRuns, warmupSeconds, kernel.result(), heapMb, diskMb)
    tracer.foreach(_.write(o.spans))
    System.out.println(m.summary(w.name, o.seed))
    m.resultJson(o.trace)
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Files {
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
