package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QueryCacheConfig
import graft.cache.{MemoryQueryCache, ParquetQueryCache, QueryCache}

/** One query the client sends: a name and the DataFrame it builds over the
  * events table. */
final case class View(name: String, build: DataFrame => DataFrame)

/** A workload: how its cache is built and what one cycle does. A cycle
  * appends to the table (except the first, cold one) and then answers
  * queries on that snapshot. */
trait Workload {
  def name: String
  /** rows of history written before the cold cycle */
  def history: Long = 500000L
  def users: Int = 5000
  /** untimed cycles after the cold one */
  def warmupCycles: Int
  /** rows per append */
  def appendRows: Long
  def newCache(dir: String): QueryCache
  def cacheRoot(dir: String): Option[String] = None
  def configure(c: QueryCacheConfig): QueryCacheConfig = c
  def cycle(ctx: Ctx): Unit
  /** the cold cache build that ends each set-up: the first cycle */
  def cold(ctx: Ctx): Unit = cycle(ctx)
}

object Workloads {
  val all: Seq[Workload] = Seq(DashboardRefresh, DurableIngest, AdhocExplore)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))

  def ts = col("ts")
  def value = col("value")
  def rows = count(lit(1))
}

/** Four low-cardinality dashboard views, refreshed together inside one
  * `refreshCycle` after each append of 0.2 % of history. */
object DashboardRefresh extends Workload {
  import Workloads._
  val name = "dashboard_refresh"
  // cycle time still falls over the first ten or so cycles while the JIT
  // warms up; with fewer warm-up cycles that fall lands in the window
  val warmupCycles = 8
  val appendRows = history / 500
  def newCache(dir: String): QueryCache = new MemoryQueryCache()

  val views = Seq(
    View("avg_count_value_gt_1", _.filter(value > 1)
      .agg(avg(value).as("avg_value"), rows.as("cnt"))),
    View("hourly_avg", _.groupBy(date_trunc("hour", ts).as("hour"))
      .agg(avg(value).as("avg_value"))),
    View("daily_type_minmax", _.filter(value > 10)
      .groupBy(date_trunc("day", ts).as("day"), col("event_type"))
      .agg(min(value).as("min_value"), max(value).as("max_value"))),
    View("hourly_type_sum_count", _
      .groupBy(date_trunc("hour", ts).as("hour"), col("event_type"))
      .agg(sum(value).as("sum_value"), rows.as("cnt"))))

  def cycle(ctx: Ctx): Unit = {
    if (ctx.cycleIndex > 0) ctx.append(appendRows)
    ctx.cycle(s => ctx.refresh(s)(views.foreach(ctx.query(s, _))))
  }
}

/** One high-cardinality `user_id × day` view over a durable cache, one
  * refresh per append of 0.5 %; every 4th cycle (the last warm-up cycle
  * first) also rewrites a past day in place and declares it with
  * `repairRange`. */
object DurableIngest extends Workload {
  import Workloads._
  val name = "durable_ingest"
  val warmupCycles = 3
  val appendRows = history / 200
  def newCache(dir: String): QueryCache = new ParquetQueryCache(s"$dir/cache")
  override def cacheRoot(dir: String): Option[String] = Some(s"$dir/cache")

  val view = View("user_daily_sum_count", _
    .groupBy(col("user_id"), date_trunc("day", ts).as("day"))
    .agg(sum(value).as("sum_value"), rows.as("cnt")))

  def cycle(ctx: Ctx): Unit = {
    val i = ctx.cycleIndex
    if (i > 0) ctx.append(appendRows)
    if (i % 4 == 3)
      ctx.repair(ctx.rng.nextInt((ctx.events.next / Events.IdsPerDay).toInt), i)
    ctx.cycle(s => ctx.query(s, view))
  }
}

/** Exploratory queries drawn Zipf(1.1) from 120 shapes into a 12-entry
  * memory cache; 0.5 % is appended every 10th query. Shapes are
  * grain × measures × event_type slice × optional event_type key, so
  * exact hits, subsumption probes, capacity misses and cold scans mix. */
object AdhocExplore extends Workload {
  import Workloads._
  val name = "adhoc_explore"
  val warmupCycles = 2
  val appendRows = history / 200
  val queriesPerCycle = 10
  def newCache(dir: String): QueryCache = new MemoryQueryCache(maxEntries = 12)
  override def configure(c: QueryCacheConfig): QueryCacheConfig =
    c.withRedimDimensions("event_type")

  private val measures: Seq[Seq[org.apache.spark.sql.Column]] = Seq(
    Seq(sum(value).as("sum_value"), rows.as("cnt")),
    Seq(sum(value).as("sum_value")),
    Seq(rows.as("cnt")),
    Seq(min(value).as("min_value"), max(value).as("max_value")),
    Seq(avg(value).as("avg_value")))
  private val slices: Seq[Seq[String]] = Seq(Nil,
    Seq("view", "click"), Seq("scroll", "search", "cart"),
    Seq("purchase", "share", "error"))

  val shapes: IndexedSeq[View] = for {
    grain <- Vector("hour", "day", "week")
    (ms, m) <- measures.zipWithIndex
    (sl, s) <- slices.zipWithIndex
    keyed <- Seq(false, true)
  } yield View(s"$grain.m$m.s$s.${if (keyed) "type" else "all"}", { df =>
    val filtered = if (sl.isEmpty) df else df.filter(col("event_type").isin(sl: _*))
    val keys = date_trunc(grain, ts).as("bucket") +:
      (if (keyed) Seq(col("event_type")) else Nil)
    filtered.groupBy(keys: _*).agg(ms.head, ms.tail: _*)
  })

  /** Shape chosen by each query: Zipf(1.1) over one fixed popularity
    * ranking of the shapes. The seed draws the sequence; it does not
    * re-rank the shapes, because a re-ranking changes which shapes are hot
    * and so the workload's cost from seed to seed. The draws are
    * stratified: each cycle of `queriesPerCycle` queries takes one
    * uniform from each of that many equal strata, in shuffled order. The
    * shapes keep their Zipf frequencies, but the mix of hot and cold
    * shapes varies less from cycle to cycle than with independent draws,
    * so a window of a few cycles measures the workload, not the luck of
    * its draws. */
  final class Picker(seed: Long) {
    private val rng = new Random(seed)
    private val ranked = new Random(0x5DEECE66DL).shuffle(shapes)
    private var strata = List.empty[Double]
    private val cdf = {
      val w = ranked.indices.map(r => math.pow(r + 1.0, -1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def next(): View = {
      if (strata.isEmpty)
        strata = rng.shuffle((0 until queriesPerCycle)
          .map(i => (i + rng.nextDouble()) / queriesPerCycle).toList)
      val u = strata.head
      strata = strata.tail
      ranked(math.min(ranked.size - 1, cdf.indexWhere(_ >= u)))
    }
  }

  /** an exploration session starts from an empty cache */
  override def cold(ctx: Ctx): Unit = ()

  def cycle(ctx: Ctx): Unit = {
    if (ctx.cycleIndex > 0) ctx.append(appendRows)
    val picker = ctx.state.getOrElseUpdate("picker", new Picker(ctx.seed))
      .asInstanceOf[Picker]
    ctx.cycle(s => (1 to queriesPerCycle).foreach(_ => ctx.query(s, picker.next())))
  }
}
