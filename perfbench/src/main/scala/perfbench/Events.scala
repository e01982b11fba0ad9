package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Layouts

/** The generated `events(event_id, ts, user_id, event_type, value)` table,
  * stored with `Layouts.writeTimeSeriesPartitioned` (one `ts_day=`
  * directory per UTC day).
  *
  * Row `id` has `ts` in `[T0 + id·1 s, T0 + (id+1)·1 s)`, so the table is
  * append-only in time and every row below `next` lies before
  * [[frontierMicros]]. Every other column is a hash of `(seed, salt, id)`:
  * the same seed always gives the same table, and re-generating a day
  * with a new salt rewrites that day's rows in place.
  *  - `user_id`: squared-uniform over `users` ids (skewed to low ids);
  *  - `event_type`: squared-uniform over 8 names (skewed to the first);
  *  - `value`: uniform in [0, 100) with two decimals. */
final class Events(spark: SparkSession, val path: String, seed: Long,
    users: Int) {
  import Events._

  /** id of the next row to append */
  var next: Long = 0L

  /** every written row has `ts` strictly below this instant */
  def frontierMicros: Long = T0 + next * StepMicros

  def read(): DataFrame = spark.read.parquet(path)

  private def unit(salt: Long, k: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt), lit(k)), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)

  def rows(from: Long, until: Long, salt: Long, parts: Int): DataFrame = {
    val jitter = pmod(xxhash64(col("id"), lit(seed), lit(-1L)), lit(StepMicros))
    spark.range(from, until, 1, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(T0) + col("id") * StepMicros + jitter).as("ts"),
      floor(pow(unit(salt, 1), 2) * users).cast("int").as("user_id"),
      element_at(typedLit(Types), floor(pow(unit(salt, 2), 2) * Types.size)
        .cast("int") + 1).as("event_type"),
      (floor(unit(salt, 3) * 10000) / 100).as("value"))
  }

  def writeHistory(n: Long): Unit = {
    Layouts.writeTimeSeriesPartitioned(
      rows(0, n, 0, spark.sparkContext.defaultParallelism), path)
    next = n
  }

  /** append `n` rows as one file per day touched (a real ingest batch) */
  def append(n: Long): Unit = {
    Layouts.writeTimeSeriesPartitioned(rows(next, next + n, 0, 1), path,
      mode = "append")
    next += n
  }

  /** Overwrite the `ts_day=` partition of `day` (days since T0) with rows
    * re-generated under `salt`; returns the rewritten `[lo, hi)` in µs. */
  def rewriteDay(day: Int, salt: Long): (Long, Long) = {
    val lo = day * IdsPerDay
    val hi = math.min(next, lo + IdsPerDay)
    require(lo < hi, s"day $day has no rows yet")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try Layouts.writeTimeSeriesPartitioned(rows(lo, hi, salt, 1), path,
      mode = "overwrite")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    (T0 + lo * StepMicros, T0 + (lo + IdsPerDay) * StepMicros)
  }

  /** bytes of parquet data files under the table */
  def bytes(): Long = Events.parquetBytes(spark, path)
}

object Events {
  /** 2026-01-01T00:00:00Z */
  val T0: Long = 1767225600L * 1000000L
  val StepMicros: Long = 1000000L
  val IdsPerDay: Long = 86400L
  val Types: Seq[String] =
    Seq("view", "click", "scroll", "search", "cart", "purchase", "share", "error")

  def parquetBytes(spark: SparkSession, dir: String): Long =
    listFiles(spark, dir).filter(_._1.endsWith(".parquet")).map(_._2).sum

  /** (path, length) of every file under `dir`, recursively */
  def listFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen))
    }
    out.result()
  }
}
