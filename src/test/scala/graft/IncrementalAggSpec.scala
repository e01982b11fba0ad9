package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.MemoryQueryCache
import graft.log.RecordingLog
import graft.sources.Tables

/** Differential correctness of the incremental aggregation cache:
  * cold → append → warm must equal vanilla Spark on the full data
  * (automates the reference demo's manual three-way diff,
  * examples/demo.rs:28-50), plus decision-procedure bail-outs. */
class IncrementalAggSpec extends AnyFunSuite {
  import TestSparkSession._

  private def eventsFull: DataFrame = Tables.events(spark, sf0001)

  /** split events at the 60th time percentile into (early, late, splitUs) */
  private def split(): (DataFrame, DataFrame, Long) = {
    val ev = eventsFull
    val s = ev.selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    (ev.filter(col("ts") < timestamp_micros(lit(s))),
      ev.filter(col("ts") >= timestamp_micros(lit(s))), s)
  }

  /** run q cold on early data, append, run warm on full; return
    * (warmResult, log) */
  private def coldAppendWarm(tag: String)(q: DataFrame => DataFrame)
      : (DataFrame, RecordingLog) = {
    val (early, late, splitUs) = split()
    val work = tmpDir(tag)
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs), log = log))
    cold.run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warm = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    (warm.run(q(spark.read.parquet(work))), log)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, tol: Double = 1e-9): Unit = {
    val (ra, rb) = (a.collect(), b.collect())
    assert(ra.length == rb.length, s"row counts: ${ra.length} vs ${rb.length}")
    def k(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.6f"
      case x => String.valueOf(x)
    }.mkString("|")
    val (sa, sb) = (ra.sortBy(k), rb.sortBy(k))
    sa.zip(sb).foreach { case (x, y) =>
      x.toSeq.zip(y.toSeq).foreach {
        case (u: Double, v: Double) =>
          assert(math.abs(u - v) <= tol * math.max(1.0, math.abs(v)),
            s"$u != $v in rows $x vs $y")
        case (u, v) => assert(String.valueOf(u) == String.valueOf(v),
          s"$u != $v in rows $x vs $y")
      }
    }
  }

  test("no-group-by: warm equals vanilla on full data, and actually hits") {
    def q(df: DataFrame) = df.filter(col("value") > 1).agg(
      round(avg("value"), 2).as("avg_value"),
      count(lit(1)).as("cnt"),
      sum("value").as("sum_value"),
      min("value").as("min_value"),
      max("value").as("max_value"))
    val (warmDF, log) = coldAppendWarm("nogroup")(q)
    assertSameRows(warmDF, q(eventsFull))
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("group-by date_trunc: warm equals vanilla, hits") {
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), avg("value").as("avg_value"))
    val (warmDF, log) = coldAppendWarm("hourly")(q)
    assertSameRows(warmDF, q(eventsFull))
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("boolean/bitwise folds merge through the cycle, hit") {
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        bool_and(col("value") > 50).as("all_gt50"),
        bool_or(col("event_type") === "click").as("any_click"),
        bit_and(col("user_id")).as("uid_and"),
        bit_or(col("user_id")).as("uid_or"),
        bit_xor(col("user_id")).as("uid_xor"))
    val (warmDF, log) = coldAppendWarm("bits")(q)
    assertSameRows(warmDF, q(eventsFull))
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("window function above the aggregate runs over replayed state, hits") {
    def q(df: DataFrame) = {
      val aggDf = df.filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      aggDf.withColumn("delta",
        col("cnt") - coalesce(lag(col("cnt"), 1).over(w), lit(0L)))
    }
    val (warmDF, log) = coldAppendWarm("windowed")(q)
    assertSameRows(warmDF, q(eventsFull))
    // the oracle alone can't distinguish a real hit from a silent bail
    // (vanilla also matches) — the log must show the warm run REPLAYED
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("order by + having above the aggregate survive the rewrite") {
    def q(df: DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 2)
      .orderBy(col("cnt").desc, col("hour").asc)
      .limit(20)
    val (warmDF, log) = coldAppendWarm("sorted")(q)
    // ordered compare: no sorting before compare
    val got = warmDF.collect().toSeq
    val want = q(eventsFull).collect().toSeq
    assert(got == want)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("sql facade: same query text twice hits across sessions sharing a cache") {
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    val ev = eventsFull
    ev.createOrReplaceTempView("events_v")
    val qcs = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    val sql = "SELECT count(*) AS cnt, sum(value) AS sv FROM events_v WHERE value > 10"
    val r1 = qcs.sql(sql).collect()
    val r2 = qcs.sql(sql).collect()
    assert(r1.toSeq == r2.toSeq)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("joins under the aggregate: a two-fact inner join is factorized") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    val ev = eventsFull
    val joined = ev.as("a").join(ev.as("b"), "event_id")
      .agg(count(lit(1)).as("cnt"))
    val out = qcs.run(joined)
    // event_id is unique, so the self equi-join has exactly one row per event
    assert(out.collect().head.getLong(0) == ev.count())
    // round 9: an inner equi-join with no declared-static side is now
    // answered by the FACTORIZED path instead of bailing
    assert(log.messages.exists(_.startsWith("factorized join: answered")), log.messages)
  }

  test("exact count distinct caches via set-union state") {
    def q(df: DataFrame) = df.groupBy(col("event_type")).agg(
      countDistinct(col("user_id")).as("u"),
      count(lit(1)).as("cnt"))
    val (warmDF, log) = coldAppendWarm("cdistinct")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull))
    // round 9: the warm run must actually take the unit fast path — the
    // set-union unit's nullable-element array used to fail the cast to
    // collect_set's non-null-element state type, silently degrading every
    // distinct warm run to vanilla ("cache rewrite failed")
    assert(!log.messages.exists(_.contains("cache rewrite failed")), log.messages)
  }

  test("sum/avg(DISTINCT) cache via set-union state and hit warm") {
    def q(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(
        sum_distinct(col("user_id")).as("su"),
        round(expr("avg(DISTINCT CAST(user_id AS DOUBLE))"), 6).as("au"),
        sum_distinct(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("sv"),
        countDistinct(col("user_id")).as("du"))
    val (warmDF, log) = coldAppendWarm("sumdistinct")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull), tol = 1e-9)
  }

  test("avg(DISTINCT) of an all-null group finalizes to NULL like vanilla") {
    import spark.implicits._
    val work = tmpDir("dnull")
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "a", Option(5L)),
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "b", Option.empty[Long]))
      .toDF("ts", "k", "v").write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def q(df: DataFrame) = df.groupBy("k").agg(
      expr("sum(DISTINCT v)").as("sd"), expr("avg(DISTINCT v)").as("ad"))
    val out = QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts"))
      .run(q(spark.read.parquet(work)))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    val want = q(spark.read.parquet(work))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out == want)
    assert(out("b") == (None, None), s"all-null group not NULL: $out")
  }

  test("corr/covar family caches via raw-sums state and hits warm") {
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(col("event_type"))
      .agg(
        round(corr(col("value"), col("user_id").cast("double")), 6).as("c"),
        round(covar_samp(col("value"), col("user_id").cast("double")), 6).as("cs"),
        round(covar_pop(col("value"), col("user_id").cast("double")), 6).as("cp"),
        count(lit(1)).as("n"))
    val (warmDF, log) = coldAppendWarm("corrcov")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull), tol = 1e-6)
  }

  test("cache.stats counts the cycle: miss, hit, invalidation") {
    val (early, late, splitUs) = split()
    val work = tmpDir("stats_cnt")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def q(df: DataFrame) = df.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
    cold.run(q(spark.read.parquet(work))).collect()
    assert(cache.stats.misses == 1 && cache.stats.hits == 0, cache.stats.toString)
    late.write.mode("append").parquet(work)
    val warm = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts"))
    warm.run(q(spark.read.parquet(work))).collect()
    assert(cache.stats.misses == 1 && cache.stats.hits == 1, cache.stats.toString)
    assert(cache.stats.invalidations == 0)
    cache.invalidateForTable(work)
    assert(cache.stats.invalidations == 1, cache.stats.toString)
  }

  test("exact percentile caches via value-histogram state, equals vanilla, hits") {
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("cnt"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, array(0.25, 0.75))").as("pq"),
        expr("percentile(CAST(user_id AS INT), 0.9)").as("p90u"),
        expr("mode() WITHIN GROUP (ORDER BY value)").as("mode_asc"),
        expr("mode() WITHIN GROUP (ORDER BY value DESC)").as("mode_desc"),
        expr("mode() WITHIN GROUP (ORDER BY CAST(user_id AS INT))")
          .as("mode_ties")) // user_id repeats per day: real tie pressure
    val (warmDF, log) = coldAppendWarm("pct")(q)
    // the finalize replays Spark's own interpolation over the merged
    // histogram, so warm == vanilla BIT-exactly (tol guards sort only)
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("percentile histogram state round-trips the durable parquet cache") {
    // array<struct<v,c>> state through ParquetQueryCache: stored as
    // distributed parquet by the cold run, re-read by a FRESH cache
    // handle for the warm merge — schema fixed point included
    val (early, late, splitUs) = split()
    val work = tmpDir("pctdur")
    early.write.mode("overwrite").parquet(work)
    val cacheDir = tmpDir("pctdur_cache")
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        count(lit(1)).as("cnt"))
    val log = new RecordingLog
    val cold = QueryCacheSession(spark, QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir),
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs),
      log = log))
    cold.run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warm = QueryCacheSession(spark, QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir), // fresh handle
      defaultTemporalColumn = "ts", log = log))
    val warmDF = warm.run(q(spark.read.parquet(work)))
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("string mode caches via the UTF8-keyed histogram, equals vanilla, hits") {
    // categorical mode — the common shape; event_type has few distinct
    // values per day, so boundary ties are routine in both directions
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        expr("mode() WITHIN GROUP (ORDER BY event_type)").as("m_asc"),
        expr("mode() WITHIN GROUP (ORDER BY event_type DESC)").as("m_desc"),
        count(lit(1)).as("cnt"))
    val (warmDF, log) = coldAppendWarm("smode")(q)
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("grouped top-k caches via heap-union state, equals vanilla, hits") {
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.functions.functions.top_k(
        struct(col("value").as("v"), col("event_id").as("id")), 3).as("top"))
      .select(col("day"), explode(col("top")).as("t"))
      .select(col("day"), col("t.v").as("v"), col("t.id").as("id"))
    val (warmDF, log) = coldAppendWarm("topk")(q)
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("histogram state beyond the element guard falls back to vanilla") {
    // a high-cardinality percentile column must degrade, not break: the
    // put rejects the oversized array state (element-count guard) and the
    // query answers vanilla-correct
    val cache = new MemoryQueryCache(maxStateRows = 16)
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(expr("percentile(value, 0.5)").as("p50"))
    val got = qcs.run(q(eventsFull)).collect()
    assertSameRows(spark.createDataFrame(
      spark.sparkContext.parallelize(got.toSeq), q(eventsFull).schema),
      q(eventsFull), tol = 0.0)
    assert(cache.stats.hits == 0, cache.stats.toString)
    assert(log.messages.exists(_.toLowerCase.contains("capacity")) ||
      cache.get("absent").isEmpty, log.messages) // state was not stored
    // a second run is another miss (nothing was cached), still correct
    val again = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log)).run(q(eventsFull)).collect()
    assert(again.map(_.toString).sorted.toSeq ==
      got.map(_.toString).sorted.toSeq)
    assert(cache.stats.hits == 0, cache.stats.toString)
  }

  test("percentileSketchState=false restores exact-or-bail; disc never sketches") {
    // 12k distinct values (past the 4096 sketch threshold), minutes apart
    val base = 1700000000000000L
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      timestamp_micros(lit(base) + col("id") * 60000000L).as("ts"),
      (col("id").cast("double") * 1e-3).as("value"))
    val work = tmpDir("px-gate")
    mk(0, 8000).write.mode("overwrite").parquet(work)
    val splitUs = base + 8000L * 60000000L
    def q(df: DataFrame) = df.agg(
      expr("percentile(value, 0.5)").as("p50"), count(lit(1)).as("cnt"))
    val vanilla = q(mk(0, 12000)).collect()(0)

    // ON (default): the sketch keeps state under a tight maxStateRows,
    // so the cycle HITS and answers a rank-bounded estimate
    val cacheOn = new MemoryQueryCache(maxStateRows = 4000)
    QueryCacheSession(spark, QueryCacheConfig(cacheOn,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    mk(8000, 12000).write.mode("append").parquet(work)
    val logOn = new RecordingLog
    val gotOn = QueryCacheSession(spark, QueryCacheConfig(cacheOn,
        defaultTemporalColumn = "ts", log = logOn))
      .run(q(spark.read.parquet(work))).collect()(0)
    assert(logOn.messages.exists(_.startsWith("cache hit")), logOn.messages)
    assert(math.abs(gotOn.getDouble(0) - vanilla.getDouble(0)) <=
      1e-2 * math.abs(vanilla.getDouble(0)), s"$gotOn vs $vanilla")

    // OFF: exact runs exceed maxStateRows -> capacity bail, answer runs
    // vanilla and is EXACT — the historical exact-or-bail contract
    val cacheOff = new MemoryQueryCache(maxStateRows = 4000)
    val logOff = new RecordingLog
    def cfgOff(now: Option[Long]) = QueryCacheConfig(cacheOff,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = logOff,
      percentileSketchState = false)
    val gotOff = QueryCacheSession(spark, cfgOff(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()(0)
    assert(gotOff.getDouble(0) == vanilla.getDouble(0), s"$gotOff vs $vanilla")
    assert(cacheOff.stats.hits == 0, cacheOff.stats.toString)
    assert(logOff.messages.exists(_.contains("state too large")), logOff.messages)

    // isolation: an OFF-mode run over the ON-mode cache must MISS (the
    // fingerprint suffix keeps sketch-mode state out of exact mode)
    val logIso = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cacheOn,
        defaultTemporalColumn = "ts", log = logIso,
        percentileSketchState = false))
      .run(q(spark.read.parquet(work))).collect()
    assert(!logIso.messages.exists(_.startsWith("cache hit")), logIso.messages)

    // percentile_disc NEVER sketches (its answers must be data members):
    // even with the flag ON, exact state exceeds the cap -> bail + exact
    val cacheD = new MemoryQueryCache(maxStateRows = 4000)
    val logD = new RecordingLog
    def qd(df: DataFrame) = df.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("pd"),
      count(lit(1)).as("cnt"))
    val gotD = QueryCacheSession(spark, QueryCacheConfig(cacheD,
        defaultTemporalColumn = "ts", log = logD))
      .run(qd(spark.read.parquet(work))).collect()(0)
    val vanD = qd(mk(0, 12000)).collect()(0)
    assert(gotD.getDouble(0) == vanD.getDouble(0), s"$gotD vs $vanD")
    assert(cacheD.stats.hits == 0, cacheD.stats.toString)
    assert(logD.messages.exists(_.contains("state too large")), logD.messages)
  }

  test("median and percentile_disc cache through their Percentile lowering") {
    // median() is RuntimeReplaceable -> Percentile(x, 0.5); the rule runs
    // pre-CBO after ReplaceExpressions, so both lowerings must hit
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        expr("median(value)").as("med"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("pd"))
    val (warmDF, log) = coldAppendWarm("medpd")(q)
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("approx_percentile caches exactly; answer within the GK contract") {
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5)").as("ap50"))
    val (warmDF, log) = coldAppendWarm("apct")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // the cached estimator is the exact nearest-rank member (documented
    // divergence-within-error, like HLL): check the contract directly —
    // the answer is a group member whose 1-based rank is within 1 of
    // ⌈0.5·N⌉ (accuracy 10000 ⇒ error ≤ 1 rank at this N)
    val groups = eventsFull.filter(col("value") > 1)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(_.getDouble(1)).sorted }
    warmDF.collect().foreach { r =>
      val vs = groups(r.getString(0))
      val v = r.getDouble(1)
      val rank = vs.count(_ < v) + 1
      assert(vs.contains(v), s"${r.getString(0)}: $v not a member")
      assert(math.abs(rank - math.ceil(0.5 * vs.length)) <= 1,
        s"${r.getString(0)}: rank $rank of ${vs.length}")
    }
  }

  test("corr/covar null edges match vanilla (n=1, half-null pairs)") {
    import spark.implicits._
    // a constant series is omitted: vanilla corr itself raises an ANSI
    // divide-by-zero there, and the decomposed form shares the shape
    val df = Seq(
      ("a", Some(1.0), Some(2.0)),                // n=1 group
      ("b", Some(1.0), None), ("b", Some(2.0), Some(3.0)),
      ("b", Some(4.0), Some(5.0)),                // half-null pair skipped
      ("c", Some(1.0), Some(2.0)), ("c", Some(3.0), Some(4.0))
    ).toDF("k", "x", "y")
    def q(d: DataFrame) = d.groupBy("k").agg(
      corr(col("x"), col("y")).as("c"),
      covar_samp(col("x"), col("y")).as("cs"),
      covar_pop(col("x"), col("y")).as("cp"))
    val want = q(df).collect().sortBy(_.getString(0)).map(_.toString).toSeq
    // decomposed finalize over the same data: route through the executor
    // by writing a parquet table with a ts column
    val work = tmpDir("corredge")
    val tsd = df.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    tsd.write.mode("overwrite").parquet(work)
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    val got = qcs.run(q(spark.read.parquet(work)))
      .collect().sortBy(_.getString(0)).map(_.toString).toSeq
    assert(log.messages.exists(_.contains("query valid for caching")), log.messages)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("bail: IN-subquery filter is not cached (stale-subquery hazard)") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    val ev = eventsFull
    ev.createOrReplaceTempView("ev_sub")
    // subquery table can change without moving the fact watermark — a
    // cached entry would silently serve stale results (ADVICE r2, high)
    val df = spark.sql(
      """SELECT count(*) AS c FROM ev_sub
         WHERE user_id IN (SELECT user_id FROM ev_sub WHERE value > 40)
         """)
    val out = qcs.run(df)
    assert(out.collect().head.getLong(0) >= 0)
    assert(log.messages.exists(m =>
      m.contains("not stable") || m.contains("subquery")), log.messages)
  }

  test("bail: scalar subquery inside aggregate expressions is not cached") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    eventsFull.createOrReplaceTempView("ev_sub2")
    val df = spark.sql(
      """SELECT sum(value) AS s,
                (SELECT max(value) FROM ev_sub2) AS mx
         FROM ev_sub2""")
    qcs.run(df).collect()
    assert(log.messages.exists(_.contains("subquery")), log.messages)
  }

  test("bail: non-mergeable aggregates run vanilla (reverse pct, collect_list)") {
    // the percentile family (incl. per-row frequency weights, round 8) is
    // mergeable now; the REVERSE form and order-sensitive collect_list
    // still bail
    val log = new RecordingLog
    val cache = new MemoryQueryCache()
    val qcs = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    qcs.run(eventsFull.agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value DESC)").as("p")))
      .collect()
    assert(log.messages.exists(_.contains("not incrementally mergeable")), log.messages)
    // programmatic counters mirror the log (EXPLAIN-parity counters)
    assert(cache.stats.bails == 1 && cache.stats.hits == 0 &&
      cache.stats.misses == 0, cache.stats.toString)
    val log2 = new RecordingLog
    val qcs2 = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log2))
    qcs2.run(eventsFull.agg(collect_list(col("value")).as("vs"))).collect()
    assert(log2.messages.exists(_.contains("not incrementally mergeable")), log2.messages)
  }

  test("bail: non-deterministic filter") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    qcs.run(eventsFull.filter(rand() > 0.5).agg(count(lit(1)).as("c"))).collect()
    assert(log.messages.exists(_.contains("not stable")), log.messages)
  }

  test("bail: dynamic lower bound (ts >= now() - interval)") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    val df = eventsFull
      .filter(col("ts") >= (current_timestamp() - expr("INTERVAL 1 DAY")))
      .agg(count(lit(1)).as("c"))
    qcs.run(df).collect()
    assert(log.messages.exists(m =>
      m.contains("dynamic lower bound") || m.contains("now() inside filter")),
      log.messages)
  }

  test("bail: temporal column missing from input") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "no_such_col", log = log))
    qcs.run(eventsFull.select("value").agg(sum("value").as("s"))).collect()
    assert(log.messages.exists(_.contains("not found in input")), log.messages)
  }

  test("fallback: state larger than maxStateRows runs uncached but correct") {
    val log = new RecordingLog
    val cache = new MemoryQueryCache(maxStateRows = 3)
    val qcs = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    // group by event_id -> ~1000 groups > 3
    val df = eventsFull.groupBy(col("event_id"), col("ts"))
      .agg(sum("value").as("s"))
    val out = qcs.run(df)
    assert(out.count() == eventsFull.count())
    assert(log.messages.exists(_.contains("state too large")), log.messages)
    assert(cache.size == 0)
  }

  test("hll sketch distinct: warm estimate within error band of vanilla") {
    def q(df: DataFrame) = df.agg(approx_count_distinct("user_id").as("u"))
    val (warmDF, log) = coldAppendWarm("hll")(q)
    val got = warmDF.collect().head.getLong(0)
    val want = q(eventsFull).collect().head.getLong(0)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // different estimators (DataSketches HLL vs HLL++): compare loosely
    assert(math.abs(got - want) <= math.max(3.0, 0.1 * want), s"$got vs $want")
  }

  test("native window() bucketing caches via the default temporal column") {
    def q(df: DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      .select(col("window.start").as("ws"), col("cnt"), col("sv"))
    val (warmDF, log) = coldAppendWarm("twindow")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull))
  }

  test("rollup/cube grouping sets: warm equals vanilla, hits") {
    def q(df: DataFrame) = df
      .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    val (warmDF, log) = coldAppendWarm("rollup")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull))

    def qc(df: DataFrame) = df
      .cube(col("event_type"), (col("user_id") % 3).as("bucket"))
      .agg(count(lit(1)).as("cnt"), max("value").as("mx"))
    val (warmCube, log2) = coldAppendWarm("cube")(qc)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assertSameRows(warmCube, qc(eventsFull))
  }

  test("max_by / min_by cache via struct-extrema state") {
    // unique ordering key (ts) so vanilla comparison is deterministic
    def q(df: DataFrame) = df.groupBy(col("event_type")).agg(
      max_by(col("event_id"), col("ts")).as("latest_event"),
      min_by(col("event_id"), col("ts")).as("earliest_event"),
      count(lit(1)).as("cnt"))
    val (warmDF, log) = coldAppendWarm("maxby")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull))
  }

  test("variance family: warm equals vanilla within numerical tolerance") {
    def q(df: DataFrame) = df.groupBy(col("event_type")).agg(
      stddev_samp(col("value")).as("sd"),
      var_samp(col("value")).as("vs"),
      stddev_pop(col("value")).as("sp"),
      var_pop(col("value")).as("vp"))
    val (warmDF, log) = coldAppendWarm("variance")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull), tol = 1e-9)
  }

  test("variance of a constant group is ~0, never NaN (cancellation clamp)") {
    // value -> constant 0.1: the raw-sums m2 cancels to a tiny float of
    // EITHER sign; unclamped, a negative residue under sqrt gave NaN.
    // Spark's central-moment buffer yields exactly 0.0; the raw-sums form
    // keeps a ~1e-9 stddev residue — the documented precision trade-off.
    def q(df: DataFrame) = df.groupBy(col("event_type")).agg(
      stddev_samp(lit(0.1) + col("value") * 0).as("sd"))
    val (warmDF, log) = coldAppendWarm("varconst")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    warmDF.collect().foreach { r =>
      assert(!r.getDouble(1).isNaN && r.getDouble(1) >= 0.0 &&
        r.getDouble(1) < 1e-6, r)
    }
  }

  test("bail: rollup over the bare temporal column (nulled grouping slot)") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log))
    // ts is BOTH the temporal column and a grouping-set slot Expand nulls
    // in the grand-total projection — filtering the delta on that slot
    // would silently undercount subtotals, so it must run vanilla
    val out = qcs.run(eventsFull
      .rollup(col("ts"), col("event_type"))
      .agg(count(lit(1)).as("cnt")))
    val vanilla = eventsFull.rollup(col("ts"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    assert(out.count() == vanilla.count())
    assert(log.messages.exists(_.contains("grouping-set slot")), log.messages)
  }

  test("collect_set: warm equals vanilla as a set") {
    def q(df: DataFrame) = df
      .groupBy(col("event_type"))
      .agg(collect_set(col("user_id")).as("users"))
    val (warmDF, log) = coldAppendWarm("cset")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    def toMap(rows: Array[Row]) =
      rows.map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(toMap(warmDF.collect()) == toMap(q(eventsFull).collect()))
  }

  test("dynamic lower bound: bucket-granularity answers match aligned vanilla") {
    val (early, late, splitUs) = split()
    val work = tmpDir("dyn")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    // "now" frozen at the split; bound = now() - 2 hours
    def q(df: DataFrame) = df
      .filter(col("value") > 1 &&
        col("ts") >= (current_timestamp() - expr("INTERVAL 2 HOURS")))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    val cfgCold = QueryCacheConfig(cache, defaultTemporalColumn = "ts",
      overrideNowMicros = Some(splitUs), log = log,
      dynamicBoundBucketGranularity = true)
    QueryCacheSession(spark, cfgCold).run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warmNow = eventsFull.selectExpr("max(unix_micros(ts))").first().getLong(0) + 1
    val warm = QueryCacheSession(spark,
      cfgCold.copy(overrideNowMicros = Some(warmNow)))
      .run(q(spark.read.parquet(work)))
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // expected: vanilla with the bound rounded UP to the next hour bucket
    val boundUs = warmNow - 2L * 3600L * 1000000L
    val alignedUs = ((boundUs + 3599999999L) / 3600000000L) * 3600000000L
    val want = eventsFull
      .filter(col("value") > 1 &&
        col("ts") >= timestamp_micros(lit(alignedUs)))
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    assertSameRows(warm, want)
  }

  test("late re-scan band composes with a dynamic lower bound") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    // held-out late slice: below the cold watermark, inside the band
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-dyn")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log,
      dynamicBoundBucketGranularity = true)
      .withLateRescanBand(java.time.Duration.ofDays(3))
    def q(df: DataFrame) = df
      .filter(col("value") > 1 &&
        col("ts") >= (current_timestamp() - expr("INTERVAL 25 DAYS")))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val warmNow = ev
      .selectExpr("max(unix_micros(ts))").first().getLong(0) + 1
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2, Some(warmNow)))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("late re-scan band")),
      log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    // expected: the late rows folded in (band re-read), bound applied at
    // day-bucket starts with the warm frozen now
    val boundUs = warmNow - 25L * dayUs
    val alignedUs = ((boundUs + dayUs - 1) / dayUs) * dayUs
    val want = ev
      .filter(col("value") > 1 &&
        col("ts") >= timestamp_micros(lit(alignedUs)))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    assertSameRows(warm, want)
  }

  test("late re-scan band reaches the temporal twin: keys-only grouping " +
      "folds held-out late rows back in") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-twin")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withTemporalTwin("day")
      .withLateRescanBand(java.time.Duration.ofDays(3))
    // no temporal key at all: without the twin, the band has no floor
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2, None))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.contains("temporal twin: answered via")),
      log2.messages)
    assert(log2.messages.exists(_.startsWith("late re-scan band")),
      log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    val want = ev.filter(col("value") > 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    assertSameRows(warm, want)
  }

  test("no-GROUP-BY aggregate with a dynamic lower bound: bucketed twin + re-aggregate") {
    val (early, late, splitUs) = split()
    val work = tmpDir("dyn-nogroup")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    // reference README.md:132's own unimplemented TODO shape
    def q(df: DataFrame) = df
      .filter(col("value") > 1 &&
        col("ts") >= (current_timestamp() - expr("INTERVAL 2 HOURS")))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        min("value").as("mn"), max("value").as("mx"),
        avg(col("value").cast("decimal(12,4)")).as("av"))
    def cfg(log: RecordingLog, nowUs: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log,
      dynamicBoundBucketGranularity = true)
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    assert(log1.messages.exists(_.startsWith("no-group dynamic bound: answered")),
      log1.messages)
    late.write.mode("append").parquet(work)
    val warmNow = eventsFull
      .selectExpr("max(unix_micros(ts))").first().getLong(0) + 1
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2, Some(warmNow)))
      .run(q(spark.read.parquet(work)))
    // the internal hour-grain twin must be a warm hit, not a re-scan
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    // expected: bucket-granularity bound at the internal hour grain —
    // vanilla with the bound rounded UP to the next hour start
    val boundUs = warmNow - 2L * 3600L * 1000000L
    val alignedUs = ((boundUs + 3599999999L) / 3600000000L) * 3600000000L
    val want = eventsFull
      .filter(col("value") > 1 &&
        col("ts") >= timestamp_micros(lit(alignedUs)))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        min("value").as("mn"), max("value").as("mx"),
        avg(col("value").cast("decimal(12,4)")).as("av"))
    assertSameRows(warm, want)
    // a zero-surviving-bucket bound: count coalesces to 0, the rest NULL
    val farNow = warmNow + 365L * 86400L * 1000000L
    val log3 = new RecordingLog
    val empty = QueryCacheSession(spark, cfg(log3, Some(farNow)))
      .run(q(spark.read.parquet(work))).collect()
    assert(empty.length == 1 && empty.head.getLong(0) == 0L &&
      empty.head.isNullAt(1), empty.mkString(","))
  }

  test("simple filter queries cache as materialized rows, delta-scan the append") {
    val (early, late, splitUs) = split()
    val work = tmpDir("filter-rows")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    // reference README.md:130's first roadmap item — no aggregate at all
    def q(df: DataFrame) = df
      .filter(col("value") > 50 && col("event_type") =!= "error")
      .select(col("event_id"), col("user_id"), col("value"))
    def cfg(log: RecordingLog, nowUs: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = nowUs,
      log = log)
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    assert(log1.messages.exists(_.startsWith("cache miss (rows)")),
      log1.messages)
    late.write.mode("append").parquet(work)
    val lateCount = late.count()
    // warm: replay + delta; the pushed ts >= wm bound must prune every
    // pre-split file (early/late live in separate files, min/max stats)
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    spark.sparkContext.addSparkListener(listener)
    val warmDF =
      try {
        val df = QueryCacheSession(spark, cfg(log2))
          .run(q(spark.read.parquet(work)))
        df.collect()
        Thread.sleep(1000) // listener bus drains asynchronously
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("cache hit (rows)")),
      log2.messages)
    assert(recs.sum() <= lateCount,
      s"warm filter query scanned ${recs.sum()} rows (> append $lateCount) " +
        "— history was rescanned")
    assertSameRows(warmDF, q(eventsFull))
    // a Sort above the chain re-applies over the union unchanged
    val log3 = new RecordingLog
    val sorted = QueryCacheSession(spark, cfg(log3))
      .run(q(spark.read.parquet(work)).orderBy(col("event_id")))
    assert(log3.messages.exists(_.startsWith("cache hit (rows)")),
      log3.messages)
    val got = sorted.collect().map(_.getLong(0)).toSeq
    val want = q(eventsFull).orderBy(col("event_id")).collect()
      .map(_.getLong(0)).toSeq
    assert(got == want)
    // a bare projection with no filter is a table copy — never cached
    val log4 = new RecordingLog
    QueryCacheSession(spark, cfg(log4))
      .run(spark.read.parquet(work).select(col("event_id"))).collect()
    assert(!log4.messages.exists(_.contains("(rows)")), log4.messages)

    // ORDER BY … LIMIT k above the chain: the top-k dashboard over the
    // view — Sort+Limit re-apply over the union, answering from the warm
    // rows; a BARE un-sorted LIMIT stays vanilla (arbitrary-subset
    // semantics, materializing the full chain for it is waste)
    val logL = new RecordingLog
    val topk = QueryCacheSession(spark, cfg(logL))
      .run(q(spark.read.parquet(work)).orderBy(col("value").desc,
        col("event_id")).limit(7))
    assert(logL.messages.exists(_.startsWith("cache hit (rows)")),
      logL.messages)
    val wantTopk = q(eventsFull).orderBy(col("value").desc,
      col("event_id")).limit(7).collect().toSeq
    assert(topk.collect().toSeq == wantTopk)
    val logB = new RecordingLog
    QueryCacheSession(spark, cfg(logB))
      .run(q(spark.read.parquet(work)).limit(7)).collect()
    assert(!logB.messages.exists(_.contains("(rows)")), logB.messages)

    // ROW SUBSUMPTION: a narrower slice (extra conjunct on a projected
    // column) first-sights as a refilter hit — the wider view's rows
    // replay re-filtered, the delta runs the narrow chain
    def narrow(df: DataFrame) = q(df).filter(col("value") < 90)
    val log5 = new RecordingLog
    val narrowDF = QueryCacheSession(spark, cfg(log5))
      .run(narrow(spark.read.parquet(work)))
    assert(log5.messages.exists(_.startsWith("refilter (rows) hit")),
      log5.messages)
    assertSameRows(narrowDF, narrow(eventsFull))
    // the subsumed run stored the narrow view's own rows — second
    // sighting is a direct hit
    val log6 = new RecordingLog
    QueryCacheSession(spark, cfg(log6))
      .run(narrow(spark.read.parquet(work))).collect()
    assert(log6.messages.exists(_.startsWith("cache hit (rows)")) &&
      !log6.messages.exists(_.startsWith("refilter (rows)")), log6.messages)
    // a conjunct on a NON-projected column cannot re-apply over state —
    // plain miss, still correct
    def unprobed(df: DataFrame) = df
      .filter(col("value") > 50 && col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
    val log7 = new RecordingLog
    val uDF = QueryCacheSession(spark, cfg(log7))
      .run(unprobed(spark.read.parquet(work)))
    assert(!log7.messages.exists(_.startsWith("refilter (rows)")),
      log7.messages)
    assertSameRows(uDF, unprobed(eventsFull))
  }

  test("late re-scan band at row grain: filter-query state folds late rows in") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-rows")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = now,
      log = log).withLateRescanBand(java.time.Duration.ofDays(3))
    // ts survives the projection — the band can identify state rows
    def q(df: DataFrame) = df.filter(col("value") > 50)
      .select(col("event_id"), col("ts"), col("value"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("late re-scan band (rows)")),
      log2.messages)
    assertSameRows(warm, q(eventsFull))
    // the banded put rewrote the state — a further run must not see
    // duplicated band rows
    val log3 = new RecordingLog
    val again = QueryCacheSession(spark, cfg(log3))
      .run(q(spark.read.parquet(work)))
    assertSameRows(again, q(eventsFull))
    // ts pruned from the projection: loud skip, normal watermark — and
    // the held-out late rows are then (correctly, per the raw S1
    // contract) NOT in the warm answer of a fresh entry warmed the same
    // way; here we only pin the loud skip on a warm hit
    def qNoTs(df: DataFrame) = df.filter(col("value") > 50)
      .select(col("event_id"), col("value"))
    QueryCacheSession(spark, cfg(new RecordingLog))
      .run(qNoTs(spark.read.parquet(work))).collect()
    val log4 = new RecordingLog
    QueryCacheSession(spark, cfg(log4))
      .run(qNoTs(spark.read.parquet(work))).collect()
    assert(log4.messages.exists(_.contains(
      "projection pruned the temporal column")), log4.messages)
  }

  test("filter-query rows over a fact-static-dim join: incremental star-join view") {
    val (early, late, splitUs) = split()
    val work = tmpDir("filter-rows-join")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None,
        dims: Seq[String] = Seq("customer")) = {
      val base = QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = log)
      if (dims.nonEmpty) base.withStaticDimensions(dims: _*) else base
    }
    // fact ⋈ declared-static dim, filters on both sides, no aggregate —
    // the materialized star-join view; appended fact rows join the
    // unchanged dim in the delta
    def q(df: DataFrame) = df
      .filter(col("value") > 50)
      .join(Tables.customer(spark, sf0001),
        df("user_id") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("event_id"), col("value"), col("c_name"))
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    assert(log1.messages.exists(_.startsWith("cache miss (rows)")),
      log1.messages)
    late.write.mode("append").parquet(work)
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("cache hit (rows)")),
      log2.messages)
    assertSameRows(warm, q(eventsFull))
    // undeclared dim: the join is not provably static — vanilla
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3, dims = Nil))
      .run(q(spark.read.parquet(work))).collect()
    assert(!log3.messages.exists(_.contains("(rows)")), log3.messages)
    // dim on the OUTER side is merge-unsound — vanilla
    def qOuter(df: DataFrame) = df
      .filter(col("value") > 50)
      .join(Tables.customer(spark, sf0001),
        df("user_id") === col("c_custkey"), "right_outer")
      .select(col("event_id"), col("c_name"))
    val log4 = new RecordingLog
    QueryCacheSession(spark, cfg(log4))
      .run(qOuter(spark.read.parquet(work))).collect()
    assert(!log4.messages.exists(_.contains("(rows)")), log4.messages)
  }

  test("cold aggregate warms from a materialized row view: history scan skipped") {
    val (early, late, splitUs) = split()
    val work = tmpDir("mv-to-agg")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = now,
      log = log)
    // the materialized view over the chain (filters + projection)
    def view(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") =!= "error")
      .select(col("ts"), col("event_type"), col("value"))
    // an aggregate over the SAME chain — its first sighting must build
    // cold state from the view's rows + the view's delta, never the
    // history files
    def agg(df: DataFrame) = view(df)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(view(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val lateCount = late.count()
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    spark.sparkContext.addSparkListener(listener)
    val aggDF =
      try {
        val df = QueryCacheSession(spark, cfg(log2))
          .run(agg(spark.read.parquet(work)))
        df.collect()
        Thread.sleep(1000)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("cold state from materialized")),
      log2.messages)
    // memory-cache view replay is driver-held — the only file input is
    // the view's delta scan over the append
    assert(recs.sum() <= lateCount,
      s"cold aggregate scanned ${recs.sum()} rows (> append $lateCount) " +
        "— history was rescanned despite the warm view")
    assertSameRows(aggDF, agg(eventsFull))
    // the subsumed run stored REAL aggregate state — the second sighting
    // is a plain warm hit
    val log3 = new RecordingLog
    val again = QueryCacheSession(spark, cfg(log3))
      .run(agg(spark.read.parquet(work)))
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assertSameRows(again, agg(eventsFull))
  }

  test("filter-query rows through the durable cache: warm runs append, never rewrite") {
    val (early, late, splitUs) = split()
    val work = tmpDir("filter-rows-durable")
    val cacheDir = tmpDir("filter-rows-cache")
    early.write.mode("overwrite").parquet(work)
    val cache = new graft.cache.ParquetQueryCache(cacheDir)
    def q(df: DataFrame) = df.filter(col("value") > 50)
      .select(col("event_id"), col("value"))
    def cfg(log: RecordingLog, nowUs: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = nowUs,
      log = log)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("cache hit (rows)")),
      log2.messages)
    assertSameRows(warm, q(eventsFull))
    // the warm put was an O(append) segment commit, not a full rewrite:
    // the head meta carries the cold segment in extraDataDirs
    val entryDir = new java.io.File(cacheDir).listFiles()
      .filter(_.isDirectory).head
    val headMeta = entryDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
      .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
    val json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(entryDir, headMeta).toPath))
    assert(json.split("\"extraDataDirs\":\"").last.takeWhile(_ != '"').nonEmpty,
      s"warm filter-query put rewrote the full row state: $json")
    // a fresh session over a fresh cache handle replays the chain
    val log3 = new RecordingLog
    val again = QueryCacheSession(spark,
      QueryCacheConfig(new graft.cache.ParquetQueryCache(cacheDir),
        defaultTemporalColumn = "ts", log = log3))
      .run(q(spark.read.parquet(work)))
    assert(log3.messages.exists(_.startsWith("cache hit (rows)")),
      log3.messages)
    assertSameRows(again, q(eventsFull))
    // a NO-OP refresh (nothing appended since) commits nothing: no new
    // meta version, no empty segment — at scale an empty segment per
    // dashboard refresh would force a full-view compaction every
    // appendChainMax refreshes of an unchanged view
    def metaCount(): Int = entryDir.listFiles().map(_.getName)
      .count(n => n.startsWith("meta-") && n.endsWith(".json"))
    val metasBefore = metaCount()
    val log4 = new RecordingLog
    val noop = QueryCacheSession(spark,
      QueryCacheConfig(new graft.cache.ParquetQueryCache(cacheDir),
        defaultTemporalColumn = "ts", log = log4))
      .run(q(spark.read.parquet(work)))
    assert(log4.messages.exists(_.startsWith("cache hit (rows)")),
      log4.messages)
    assertSameRows(noop, q(eventsFull))
    assert(metaCount() == metasBefore,
      "a no-op refresh committed a new meta version")
  }

  test("durable aggregate warm runs chain O(append) partial segments") {
    val ev = eventsFull
    def pct(p: Double) = ev.selectExpr(
      s"CAST(percentile_approx(unix_micros(ts), $p) AS LONG)").first().getLong(0)
    val (t1, t2, t3) = (pct(0.5), pct(0.58), pct(0.62))
    val work = tmpDir("agg-chain-work")
    val cacheDir = tmpDir("agg-chain-cache")
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    def cfg(log: RecordingLog, nowUs: Option[Long]) = QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir),
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    def load(cond: org.apache.spark.sql.Column, mode: String) =
      ev.filter(cond).write.mode(mode).parquet(work)
    load(col("ts") < timestamp_micros(lit(t1)), "overwrite")
    QueryCacheSession(spark, cfg(new RecordingLog, Some(t1)))
      .run(q(spark.read.parquet(work))).collect()
    val entryDir = new java.io.File(cacheDir).listFiles()
      .filter(_.isDirectory).head
    def headMetaJson(): String = {
      val name = entryDir.listFiles().map(_.getName)
        .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
        .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(entryDir, name).toPath))
    }
    def metaField(json: String, f: String): String =
      json.split("\"" + f + "\":\"").last.takeWhile(_ != '"')
    // warm run 2: a SMALL append (~8% of time span → few new hour groups)
    // commits an O(append) chain segment, never a state rewrite
    load(col("ts") >= timestamp_micros(lit(t1)) &&
      col("ts") < timestamp_micros(lit(t2)), "append")
    val log2 = new RecordingLog
    val warm2 = QueryCacheSession(spark, cfg(log2, Some(t2)))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assertSameRows(warm2,
      q(ev.filter(col("ts") < timestamp_micros(lit(t2)))))
    val m2 = headMetaJson()
    assert(metaField(m2, "extraDataDirs").nonEmpty,
      s"warm aggregate run rewrote the full state instead of chaining: $m2")
    // the chained segment holds only the APPEND's groups
    val headRows = spark.read.parquet(
      new java.io.File(entryDir, metaField(m2, "dataDir")).toString).count()
    val appendGroups = ev.filter(col("ts") >= timestamp_micros(lit(t1)) &&
        col("ts") < timestamp_micros(lit(t2)) && col("value") > 1)
      .select(date_trunc("hour", col("ts"))).distinct().count()
    val allGroups = q(ev).count()
    assert(headRows == appendGroups && headRows < allGroups,
      s"chained segment has $headRows rows; append groups $appendGroups, " +
        s"total groups $allGroups")
    // warm run 3 extends the chain and still answers exactly
    load(col("ts") >= timestamp_micros(lit(t2)) &&
      col("ts") < timestamp_micros(lit(t3)), "append")
    val warm3 = QueryCacheSession(spark, cfg(new RecordingLog, Some(t3)))
      .run(q(spark.read.parquet(work)))
    assertSameRows(warm3,
      q(ev.filter(col("ts") < timestamp_micros(lit(t3)))))
    assert(metaField(headMetaJson(), "extraDataDirs")
      .split("\\\\n").count(_.nonEmpty) == 2, headMetaJson())
    // a LARGE append (the remaining ~38% of the time span — a delta with
    // ≥25% of the resulting groups) triggers the delta-fraction rule:
    // full put, chain compacts to one segment
    load(col("ts") >= timestamp_micros(lit(t3)), "append")
    val warm4 = QueryCacheSession(spark, cfg(new RecordingLog, None))
      .run(q(spark.read.parquet(work)))
    assertSameRows(warm4, q(ev))
    assert(metaField(headMetaJson(), "extraDataDirs").isEmpty,
      s"a ~38%-of-groups delta chained instead of compacting: " +
        headMetaJson())
    // flipping the flag against the live cache is safe: chained and
    // merged entries are interchangeable (both replay through the merge)
    load(lit(false), "append") // no-op append, just re-run
    val warm5 = QueryCacheSession(spark,
      cfg(new RecordingLog, None).copy(aggregateStateAppend = false))
      .run(q(spark.read.parquet(work)))
    assertSameRows(warm5, q(ev))
  }

  test("banded durable aggregate refreshes at segment grain across runs") {
    val ev = eventsFull
    def pct(p: Double) = ev.selectExpr(
      s"CAST(percentile_approx(unix_micros(ts), $p) AS LONG)").first().getLong(0)
    val (t1, t2) = (pct(0.6), pct(0.8))
    val dayUs = 86400L * 1000000L
    val bandUs = 1 * dayUs
    // late rows: inside run 2's band window, held out until after run 2
    val isLate = col("ts") >= timestamp_micros(lit(t2 - dayUs / 2)) &&
      col("ts") < timestamp_micros(lit(t2)) && col("event_id") % 3 === 0
    val work = tmpDir("agg-band-chain-work")
    val cacheDir = tmpDir("agg-band-chain-cache")
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        max("value").as("mx"))
    def cfg(log: RecordingLog, nowUs: Option[Long]) = QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir),
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .copy(lateRescanBandMicros = Some(bandUs))
    ev.filter(col("ts") < timestamp_micros(lit(t1)) && !isLate)
      .write.mode("overwrite").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(t1)))
      .run(q(spark.read.parquet(work))).collect()
    // warm banded run 2: the cold segment straddles the floor — it
    // SETTLES (below-floor partials re-committed once) and the band
    // re-read becomes the head
    ev.filter(col("ts") >= timestamp_micros(lit(t1)) &&
        col("ts") < timestamp_micros(lit(t2)) && !isLate)
      .write.mode("append").parquet(work)
    val log2 = new RecordingLog
    val warm2 = QueryCacheSession(spark, cfg(log2, Some(t2)))
      .run(q(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("late re-scan band")),
      log2.messages)
    assertSameRows(warm2,
      q(ev.filter(col("ts") < timestamp_micros(lit(t2)) && !isLate)))
    val entryDir = new java.io.File(cacheDir).listFiles()
      .filter(_.isDirectory).head
    def headMetaJson(): String = {
      val name = entryDir.listFiles().map(_.getName)
        .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
        .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(entryDir, name).toPath))
    }
    def metaField(json: String, f: String): String =
      json.split("\"" + f + "\":\"").last.takeWhile(_ != '"')
    val m2 = headMetaJson()
    val settled2 = metaField(m2, "extraDataDirs")
      .split("\\\\n").toSeq.filter(_.nonEmpty)
    assert(settled2.size == 1,
      s"banded aggregate run did not commit at segment grain: $m2")
    val settledMTime =
      new java.io.File(entryDir, settled2.head).lastModified
    // warm banded run 3: the settled segment is wholly below the new
    // floor — kept verbatim; late rows (inside the band) fold back in
    ev.filter(col("ts") >= timestamp_micros(lit(t2)) || isLate)
      .write.mode("append").parquet(work)
    val log3 = new RecordingLog
    val warm3 = QueryCacheSession(spark, cfg(log3, None))
      .run(q(spark.read.parquet(work)))
    assertSameRows(warm3, q(ev))
    val m3 = headMetaJson()
    val kept3 = metaField(m3, "extraDataDirs")
      .split("\\\\n").toSeq.filter(_.nonEmpty)
    assert(kept3.contains(settled2.head),
      s"run 3 did not keep run 2's settled segment: $m3")
    assert(new java.io.File(entryDir, settled2.head).lastModified
      == settledMTime, "the kept settled segment was rewritten")

    // TUMBLING-WINDOW keys refresh at segment grain too: the band floor
    // cuts on the struct's start field ("_gN.start" — footer stats and
    // the straddle filter both address the nested column by dot path)
    val workW = tmpDir("agg-band-chain-win-work")
    val cacheDirW = tmpDir("agg-band-chain-win-cache")
    def qw(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    def cfgW(log: RecordingLog, nowUs: Option[Long]) = QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDirW),
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .copy(lateRescanBandMicros = Some(bandUs))
    ev.filter(col("ts") < timestamp_micros(lit(t1)) && !isLate)
      .write.mode("overwrite").parquet(workW)
    QueryCacheSession(spark, cfgW(new RecordingLog, Some(t1)))
      .run(qw(spark.read.parquet(workW))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(t1)) || isLate)
      .write.mode("append").parquet(workW)
    val logW = new RecordingLog
    val warmW = QueryCacheSession(spark, cfgW(logW, None))
      .run(qw(spark.read.parquet(workW)))
    assert(logW.messages.exists(_.startsWith("late re-scan band")),
      logW.messages)
    assertSameRows(warmW, qw(eventsFull))
    val entryDirW = new java.io.File(cacheDirW).listFiles()
      .filter(_.isDirectory).head
    val headW = entryDirW.listFiles().map(_.getName)
      .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
      .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
    val jsonW = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(entryDirW, headW).toPath))
    assert(metaField(jsonW, "extraDataDirs").nonEmpty,
      s"banded tumbling-window run did not commit at segment grain: $jsonW")
  }

  test("banded refresh on a durable row view is segment-grain: chain prefix kept, O(band) write") {
    val ev = eventsFull
    def pct(p: Double) = ev.selectExpr(
      s"CAST(percentile_approx(unix_micros(ts), $p) AS LONG)").first().getLong(0)
    val (t1, t2, t3) = (pct(0.4), pct(0.55), pct(0.7))
    val bandUs = (t3 - t2) / 2
    val floor = t3 - bandUs // midpoint of (t2, t3): S3 straddles, S1/S2 don't
    val isLate = col("ts") >= timestamp_micros(lit(floor)) &&
      col("ts") < timestamp_micros(lit(t3)) && col("event_id") % 3 === 0
    val work = tmpDir("band-segment-work")
    val cacheDir = tmpDir("band-segment-cache")
    def q(df: DataFrame) = df.filter(col("value") > 50)
      .select(col("event_id"), col("ts"), col("value"))
    def cfg(log: RecordingLog, nowUs: Option[Long], banded: Boolean) = {
      val c = QueryCacheConfig(new graft.cache.ParquetQueryCache(cacheDir),
        defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      if (banded) c.copy(lateRescanBandMicros = Some(bandUs)) else c
    }
    // three-run chain: cold put (S1) + two putAppend segments (S2, S3)
    ev.filter(col("ts") < timestamp_micros(lit(t1)))
      .write.mode("overwrite").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(t1), banded = false))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(t1)) &&
        col("ts") < timestamp_micros(lit(t2)))
      .write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(t2), banded = false))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(t2)) &&
        col("ts") < timestamp_micros(lit(t3)) && !isLate)
      .write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(t3), banded = false))
      .run(q(spark.read.parquet(work))).collect()
    val entryDir = new java.io.File(cacheDir).listFiles()
      .filter(_.isDirectory).head
    def headMetaJson(): String = {
      val name = entryDir.listFiles().map(_.getName)
        .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
        .maxBy(_.stripPrefix("meta-").stripSuffix(".json").toLong)
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(entryDir, name).toPath))
    }
    def metaField(json: String, f: String): String =
      json.split("\"" + f + "\":\"").last.takeWhile(_ != '"')
    val before = headMetaJson()
    val s3Dir = metaField(before, "dataDir")
    val prefixDirs = metaField(before, "extraDataDirs")
      .split("\\\\n").toSeq.filter(_.nonEmpty) // S2, S1
    assert(prefixDirs.size == 2, s"expected a 3-segment chain: $before")
    val prefixMTimes = prefixDirs.map(d =>
      d -> new java.io.File(entryDir, d).lastModified).toMap
    // late rows land inside the band window, plus the genuinely-new tail
    ev.filter(isLate || col("ts") >= timestamp_micros(lit(t3)))
      .write.mode("append").parquet(work)
    val log4 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log4, None, banded = true))
      .run(q(spark.read.parquet(work)))
    assert(log4.messages.exists(_.startsWith("late re-scan band (rows)")),
      log4.messages)
    assertSameRows(warm, q(eventsFull))
    // SEGMENT-GRAIN pin: the head meta keeps S1+S2 verbatim (same dirs,
    // files untouched); the straddling S3 split into a SETTLED segment
    // (rows below the floor — kept verbatim by every future refresh) and
    // the band head — the banded warm run wrote O(band + straddle), not
    // O(view)
    val after = headMetaJson()
    val keptDirs = metaField(after, "extraDataDirs")
      .split("\\\\n").toSeq.filter(_.nonEmpty)
    assert(prefixDirs.forall(keptDirs.contains),
      s"banded refresh did not keep the chain prefix: kept=$keptDirs " +
        s"expected ⊇ $prefixDirs")
    assert(!keptDirs.contains(s3Dir) && metaField(after, "dataDir") != s3Dir,
      "the straddling segment was not replaced")
    prefixDirs.foreach { d =>
      assert(new java.io.File(entryDir, d).lastModified == prefixMTimes(d),
        s"kept segment $d was rewritten")
    }
    // the learned per-segment maxima are memoized for the next refresh
    assert(metaField(after, "segMaxTs").contains("data-"), after)
    // the band head holds ONLY the re-scan ([floor, now)); the settled
    // segment only S3's below-floor rows — together band + straddle
    val headRows = spark.read.parquet(
      new java.io.File(entryDir, metaField(after, "dataDir")).toString).count()
    val viewRows = q(eventsFull).count()
    val expectedBand = q(eventsFull)
      .filter(col("ts") >= timestamp_micros(lit(floor))).count()
    assert(headRows <= expectedBand && headRows < viewRows,
      s"band head has $headRows rows (band bound $expectedBand, " +
        s"view $viewRows) — the refresh rewrote more than the band")
    val settled = keptDirs.filterNot(prefixDirs.contains)
    assert(settled.size == 1, s"expected one settled segment in $keptDirs")
    val settledRows = spark.read.parquet(
      new java.io.File(entryDir, settled.head).toString).count()
    val expectedSettled = q(eventsFull)
      .filter(col("ts") >= timestamp_micros(lit(t2)) &&
        col("ts") < timestamp_micros(lit(floor))).count()
    assert(settledRows == expectedSettled,
      s"settled segment has $settledRows rows, expected $expectedSettled")
    // a further banded run still answers exactly (no duplicated band);
    // its floor (real now − band) is beyond all data, so it is also a
    // NO-OP refresh: the chain must not grow
    val metasAfterBand = headMetaJson()
    val log5 = new RecordingLog
    val again = QueryCacheSession(spark, cfg(log5, None, banded = true))
      .run(q(spark.read.parquet(work)))
    assertSameRows(again, q(eventsFull))
    assert(headMetaJson() == metasAfterBand,
      "a no-op banded refresh committed a new meta version")
  }

  test("cold star-join aggregate warms from the star-join row view") {
    val (early, late, splitUs) = split()
    val work = tmpDir("mv-agg-star")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = now,
      log = log).withStaticDimensions("customer")
    // the star-join row view: fact ⋈ declared-static dim, projected
    def view(df: DataFrame) = df.filter(col("value") > 50)
      .join(Tables.customer(spark, sf0001),
        df("user_id") === col("c_custkey"))
      .select(col("ts"), col("value"), col("c_mktsegment"))
    // an aggregate over the SAME chain: its cold start must come from
    // the view's rows ∪ the view's delta, never the history files
    def agg(df: DataFrame) = view(df)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(view(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val lateCount = late.count()
    val dimCount = Tables.customer(spark, sf0001).count()
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    spark.sparkContext.addSparkListener(listener)
    val aggDF =
      try {
        val df = QueryCacheSession(spark, cfg(log2))
          .run(agg(spark.read.parquet(work)))
        df.collect()
        Thread.sleep(1000)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("cold state from materialized")),
      log2.messages)
    // the only file inputs are the delta fact rows + the (static) dim
    assert(recs.sum() <= lateCount + dimCount,
      s"cold star aggregate scanned ${recs.sum()} rows (> append " +
        s"$lateCount + dim $dimCount) — history was rescanned")
    assertSameRows(aggDF, agg(eventsFull))
  }

  test("row-view reprojection: a column slice answers from the full-width view") {
    val (early, late, splitUs) = split()
    val work = tmpDir("reproject-rows")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = now,
      log = log)
    // the FULL-WIDTH view a user materializes first: filter, no select
    def wide(df: DataFrame) = df.filter(col("value") > 50)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(wide(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    // a column slice of the same filter: first sighting replays the
    // full-width twin re-projected; the delta runs the slice chain
    def slice(df: DataFrame) = wide(df)
      .select(col("event_id"), col("value"))
    val log2 = new RecordingLog
    val got = QueryCacheSession(spark, cfg(log2))
      .run(slice(spark.read.parquet(work)))
    assert(log2.messages.exists(_.startsWith("reproject (rows) hit")),
      log2.messages)
    assertSameRows(got, slice(eventsFull))
    // second sighting is a direct hit on the slice's own stored rows
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(slice(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit (rows)")) &&
      !log3.messages.exists(_.startsWith("reproject")), log3.messages)
    // COMPOSITION (depth 2): a slice with an EXTRA conjunct strips the
    // conjunct (refilter) then the projection (reproject) and still
    // answers from the full-width view
    def narrowSlice(df: DataFrame) = df
      .filter(col("value") > 50 && col("event_type") === "click")
      .select(col("event_id"), col("value"))
    val log4 = new RecordingLog
    val got4 = QueryCacheSession(spark, cfg(log4))
      .run(narrowSlice(spark.read.parquet(work)))
    assert(log4.messages.exists(_.startsWith("refilter (rows) hit")) &&
      log4.messages.exists(_.startsWith("reproject (rows) hit")),
      log4.messages)
    assertSameRows(got4, narrowSlice(eventsFull))
    // a computed-expression slice re-applies the expression over the
    // full-width replay
    def computed(df: DataFrame) = wide(df)
      .select(col("event_id"), (col("value") * 2).as("v2"))
    val log5 = new RecordingLog
    val got5 = QueryCacheSession(spark, cfg(log5))
      .run(computed(spark.read.parquet(work)))
    assert(log5.messages.exists(_.startsWith("reproject (rows) hit")),
      log5.messages)
    assertSameRows(got5, computed(eventsFull))
  }

  test("cold aggregate subsumes through the row-view refilter lattice") {
    val (early, late, splitUs) = split()
    val work = tmpDir("mv-agg-refilter")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog, now: Option[Long] = None) = QueryCacheConfig(
      cache, defaultTemporalColumn = "ts", overrideNowMicros = now,
      log = log)
    // the WIDE materialized view
    def view(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") =!= "error")
      .select(col("ts"), col("event_type"), col("value"))
    // a cold aggregate whose chain adds a conjunct ABSENT from the view:
    // its first sighting must cold-start from the wider view re-filtered
    // (refilter lattice), never the history files
    def agg(df: DataFrame) = view(df).filter(col("value") < 90)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(view(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val lateCount = late.count()
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    spark.sparkContext.addSparkListener(listener)
    val aggDF =
      try {
        val df = QueryCacheSession(spark, cfg(log2))
          .run(agg(spark.read.parquet(work)))
        df.collect()
        Thread.sleep(1000)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("refilter (rows) hit")),
      log2.messages)
    assert(log2.messages.exists(_.startsWith("cold state from materialized")),
      log2.messages)
    assert(recs.sum() <= lateCount,
      s"subsumed cold aggregate scanned ${recs.sum()} rows (> append " +
        s"$lateCount) — history was rescanned despite the warm wider view")
    assertSameRows(aggDF, agg(eventsFull))
    // real aggregate state was stored — second sighting is a warm hit
    val log3 = new RecordingLog
    val again = QueryCacheSession(spark, cfg(log3))
      .run(agg(spark.read.parquet(work)))
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assertSameRows(again, agg(eventsFull))
  }

  test("row-state admission guard: over-budget cold view declines, runs vanilla") {
    val (early, _, splitUs) = split()
    val work = tmpDir("row-admission-work")
    val cacheDir = tmpDir("row-admission-cache")
    early.write.mode("overwrite").parquet(work)
    def q(df: DataFrame) = df.filter(col("value") > 50)
      .select(col("event_id"), col("value"))
    val log = new RecordingLog
    val res = QueryCacheSession(spark, QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir),
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs),
      maxRowStateBytes = 1L, log = log))
      .run(q(spark.read.parquet(work)))
    assert(log.messages.exists(_.startsWith("row-state admission declined")),
      log.messages)
    assertSameRows(res, q(early))
    // nothing was written: no entry directory holds a data segment
    val dirs = Option(new java.io.File(cacheDir).listFiles())
      .getOrElse(Array.empty)
    assert(dirs.forall(d => !d.isDirectory ||
      d.listFiles().forall(!_.getName.startsWith("data-"))),
      "an over-budget cold row view was written despite the guard")
  }

  test("strict upper bound: future-dated rows are not double counted") {
    // craft: one row dated AFTER the cold run's now; reference contract S1
    // double-counts it; strict mode must not.
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def t(us: Long) = new java.sql.Timestamp(us / 1000)
    val nowUs = 1700000000000000L
    val rows = Seq(
      Row(t(nowUs - 2000000L), 1L),
      Row(t(nowUs - 1000000L), 10L),
      Row(t(nowUs + 5000000L), 100L)) // future-dated
    val work = tmpDir("strict")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val cfg = QueryCacheConfig(cache, defaultTemporalColumn = "ts",
      overrideNowMicros = Some(nowUs), strictUpperBound = true)
    val qcs = QueryCacheSession(spark, cfg)
    def q() = spark.read.parquet(work).agg(sum("v").as("s"))
    assert(qcs.run(q()).collect().head.getLong(0) == 11L) // future row excluded
    // second run, "later": now covers the future row; count it exactly once
    val qcs2 = QueryCacheSession(spark, cfg.copy(
      overrideNowMicros = Some(nowUs + 10000000L)))
    assert(qcs2.run(q()).collect().head.getLong(0) == 111L)
  }

  test("flipping strictUpperBound against a live cache is a miss, not a wrong band") {
    // the capture mode is folded into the fingerprint (ADVICE r5 #2):
    // default-mode state captures future-dated rows in full, so replaying
    // it under strict mode would re-count every row in [wm, now) — here
    // the future-dated row would be counted twice (211 instead of 111)
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def t(us: Long) = new java.sql.Timestamp(us / 1000)
    val nowUs = 1700000000000000L
    val rows = Seq(
      Row(t(nowUs - 2000000L), 1L),
      Row(t(nowUs - 1000000L), 10L),
      Row(t(nowUs + 5000000L), 100L)) // future-dated at cold time
    val work = tmpDir("strictflip")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def q() = spark.read.parquet(work).agg(sum("v").as("s"))
    // cold under the DEFAULT (reference) contract: captures all rows
    val off = QueryCacheConfig(cache, defaultTemporalColumn = "ts",
      overrideNowMicros = Some(nowUs), log = log)
    assert(QueryCacheSession(spark, off).run(q()).collect().head.getLong(0) == 111L)
    // flip to strict against the SAME cache: must be a miss with the
    // exact answer, not a hit that re-counts the future-dated row
    val on = off.copy(strictUpperBound = true,
      overrideNowMicros = Some(nowUs + 10000000L))
    val hitsBefore = log.messages.count(_.startsWith("cache hit"))
    assert(QueryCacheSession(spark, on).run(q()).collect().head.getLong(0) == 111L)
    assert(log.messages.count(_.startsWith("cache hit")) == hitsBefore,
      s"strict run hit default-mode state: ${log.messages}")
    // and back: the default-mode run hits its OWN entry (not the strict
    // one) — answer 211 is the documented reference-contract double count
    // of the future-dated row (S1), present with or without this fix
    val off2 = off.copy(overrideNowMicros = Some(nowUs + 20000000L))
    assert(QueryCacheSession(spark, off2).run(q()).collect().head.getLong(0) == 211L)
    assert(log.messages.count(_.startsWith("cache hit")) == hitsBefore + 1,
      s"expected the second default-mode run to hit its own entry: ${log.messages}")
  }

  // ---------------------------------------- declared-static dimension joins

  private def joinQ(df: DataFrame): DataFrame =
    df.join(Tables.customer(spark, sf0001),
        df("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))

  test("static-dim join: warm equals vanilla on full data, and hits") {
    val (early, late, splitUs) = split()
    val work = tmpDir("statjoin")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withStaticDimensions("customer")
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(joinQ(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(joinQ(spark.read.parquet(work)))
    assertSameRows(warmDF, joinQ(eventsFull))
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("bail: static-join needs the declaration to cover every dim table") {
    val log = new RecordingLog
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log)
      .withStaticDimensions("nation")) // declared, but customer is not
    qcs.run(joinQ(eventsFull)).collect()
    assert(log.messages.exists(_.contains("not declared static")), log.messages)
  }

  test("bail: temporal column from the static side is rejected") {
    // dim side carries its own ts; fact side (lineitem) has none — the
    // only temporal candidate comes from the declared-static side
    val log = new RecordingLog
    val li = Tables.lineitem(spark, sf0001)
    val joined = eventsFull.as("dim")
      .join(li, col("dim.event_id") === col("l_orderkey"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log)
      .withStaticDimensions("events"))
    qcs.run(joined).collect()
    assert(log.messages.exists(_.contains("static dimension side")), log.messages)
  }

  test("static-dim LEFT join (fact outer): warm equals vanilla, hits") {
    // left outer keeps fact rows with no dim match (null-extended) —
    // merge-safe because appended fact rows only ADD output rows
    def q(df: DataFrame) = df.join(Tables.customer(spark, sf0001),
        df("user_id") === col("c_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    val (early, late, splitUs) = split()
    val work = tmpDir("statjoinleft")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withStaticDimensions("customer")
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    assertSameRows(warmDF, q(eventsFull))
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("invalidateForTable: updated static dim has a one-call remedy") {
    // staticDimensionTables' contract: a dim that DOES change leaves warm
    // answers stale until invalidation. This is the documented remedy —
    // cache.invalidateForTable(dim) → next run is a clean cold miss
    // computed against the UPDATED dim.
    val (early, late, splitUs) = split()
    val work = tmpDir("statjoininv")
    val dimDir = tmpDir("dimcopy")
    Tables.customer(spark, sf0001).write.mode("overwrite").parquet(dimDir)
    def q(df: DataFrame) = df.join(spark.read.parquet(dimDir),
        df("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    val dimName = new java.io.File(dimDir).getName
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withStaticDimensions(dimName)
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    // the dim CHANGES (violating its declaration): segments re-mapped
    Tables.customer(spark, sf0001)
      .withColumn("c_mktsegment", concat(lit("NEW_"), col("c_mktsegment")))
      .write.mode("overwrite").parquet(dimDir)
    assert(cache.invalidateForTable(dimName) == 1)
    val freshDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    assertSameRows(freshDF, q(eventsFull)) // vanilla over the NEW dim
    assert(log.messages.count(_.startsWith("cache miss")) == 2, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 0, log.messages)
  }

  test("bail: static dim on the OUTER side is rejected") {
    // right_outer with the static dim on the right = dim is the outer
    // side; an appended fact row could retract a null-extended dim row
    val log = new RecordingLog
    val ev = eventsFull
    val joined = ev.join(Tables.customer(spark, sf0001),
        ev("user_id") === col("c_custkey"), "right_outer")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log)
      .withStaticDimensions("customer"))
    qcs.run(joined).collect()
    assert(log.messages.exists(_.contains("outer side not supported")), log.messages)
  }

  // ---------------------------------------- declared-static union branches

  import java.sql.Timestamp

  /** static backfill parquet whose rows straddle the split point — the
    * above-watermark rows are the double-count hazard the warm delta's
    * branch pruning must avoid */
  private def writeBackfill(splitUs: Long): String = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    def t(us: Long) = new Timestamp(us / 1000)
    val rows: Seq[Row] = Seq(
      Row(t(splitUs - 7200000000L), 500.0),  // 2h below the watermark
      Row(t(splitUs + 3600000000L), 1000.0), // 1h ABOVE the watermark
      Row(t(splitUs + 7200000000L), 2000.0))
    val dir = tmpDir("unionbackfill")
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def unionQ(fact: DataFrame, backfillDir: String): DataFrame =
    fact.select(col("ts"), col("value"))
      // projection over the static branch mirrors the qc_incr_union
      // scenario's cast-projection shape (isStaticSide must walk it)
      .union(spark.read.parquet(backfillDir)
        .select(col("ts").cast("timestamp").as("ts"), col("value")))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))

  test("static-branch union: warm equals vanilla (static branch not re-counted)") {
    // default (non-strict) contract: the cold state captured the static
    // branch IN FULL, including its above-watermark rows — a warm delta
    // that rescanned the branch would double-count them, so equality
    // with vanilla proves the delta pruned it to an empty relation
    val (early, late, splitUs) = split()
    val work = tmpDir("statunion")
    early.write.mode("overwrite").parquet(work)
    val backfill = writeBackfill(splitUs)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withStaticDimensions(new java.io.File(backfill).getName)
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(unionQ(spark.read.parquet(work), backfill)).collect()
    late.write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(unionQ(spark.read.parquet(work), backfill))
    assertSameRows(warmDF, unionQ(eventsFull, backfill))
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("static-branch union under strict mode: S1 band counts static rows once") {
    // strict mode: cold excludes EVERY branch's rows at/above its pinned
    // now; the warm delta's ts-band picks them up exactly once — no
    // branch pruning involved, the S1 contract covers static branches
    val (early, late, splitUs) = split()
    val work = tmpDir("statunionstrict")
    early.write.mode("overwrite").parquet(work)
    val backfill = writeBackfill(splitUs)
    val warmNow = eventsFull.agg(max(unix_micros(col("ts"))))
      .first().getLong(0) + 86400000000L // above every fact AND static ts
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Long) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(now),
      strictUpperBound = true, log = log)
      .withStaticDimensions(new java.io.File(backfill).getName)
    QueryCacheSession(spark, cfg(splitUs))
      .run(unionQ(spark.read.parquet(work), backfill)).collect()
    late.write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(warmNow))
      .run(unionQ(spark.read.parquet(work), backfill))
    assertSameRows(warmDF, unionQ(eventsFull, backfill))
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
  }

  test("bail: union needs the declaration; two appending branches rejected") {
    val log = new RecordingLog
    val ev = eventsFull.select(col("ts"), col("value"))
    val undeclared = QueryCacheSession(spark, QueryCacheConfig(
      new MemoryQueryCache(), defaultTemporalColumn = "ts", log = log))
    undeclared.run(ev.union(ev).agg(count(lit(1)).as("cnt"))).collect()
    assert(log.messages.exists(_.contains("union under aggregate")), log.messages)

    val log2 = new RecordingLog
    val declared = QueryCacheSession(spark, QueryCacheConfig(
      new MemoryQueryCache(), defaultTemporalColumn = "ts", log = log2)
      .withStaticDimensions("customer")) // declared, but neither branch is it
    declared.run(ev.union(ev).agg(count(lit(1)).as("cnt"))).collect()
    assert(log2.messages.exists(_.contains("more than one union branch")), log2.messages)
  }

  test("bail: union of only declared-static branches has nothing to watermark") {
    val log = new RecordingLog
    val c = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_acctbal"))
    val qcs = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
      defaultTemporalColumn = "ts", log = log)
      .withStaticDimensions("customer"))
    qcs.run(c.union(c).agg(count(lit(1)).as("cnt"))).collect()
    assert(log.messages.exists(_.contains("every union branch is a declared-static")),
      log.messages)
  }

  test("FILTER (WHERE …) caches across the whitelist and hits warm") {
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        expr("sum(value) FILTER (WHERE event_type = 'click')").as("s_click"),
        expr("count(*) FILTER (WHERE value > 50)").as("n_gt50"),
        expr("avg(value) FILTER (WHERE event_type <> 'click')").as("a_rest"),
        expr("min(value) FILTER (WHERE user_id % 2 = 0)").as("mn_even"),
        expr("max(value) FILTER (WHERE user_id % 2 = 1)").as("mx_odd"),
        expr("count(DISTINCT user_id) FILTER (WHERE event_type = 'view')").as("u_view"),
        expr("percentile(value, 0.5) FILTER (WHERE value > 10)").as("p50_gt10"),
        count(lit(1)).as("cnt"))
    val (warmDF, log) = coldAppendWarm("filteragg")(q)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
    assertSameRows(warmDF, q(eventsFull))
  }

  test("count_if and the regr_* family cache via raw-sums state, hit warm") {
    def q(df: DataFrame) = df
      .groupBy(col("event_type"))
      .agg(
        expr("count_if(value > 50)").as("ci"),
        expr("regr_count(value, CAST(user_id AS DOUBLE))").as("rn"),
        round(expr("regr_avgx(value, CAST(user_id AS DOUBLE))"), 6).as("rax"),
        round(expr("regr_avgy(value, CAST(user_id AS DOUBLE))"), 6).as("ray"),
        round(expr("regr_slope(value, CAST(user_id AS DOUBLE))"), 6).as("rs"),
        round(expr("regr_intercept(value, CAST(user_id AS DOUBLE))"), 6).as("ri"),
        round(expr("regr_r2(value, CAST(user_id AS DOUBLE))"), 6).as("r2"),
        round(expr("regr_sxy(value, CAST(user_id AS DOUBLE))"), 2).as("sxy"),
        round(expr("regr_sxx(value, CAST(user_id AS DOUBLE))"), 2).as("sxx"),
        round(expr("regr_syy(value, CAST(user_id AS DOUBLE))"), 2).as("syy"))
    val (warmDF, log) = coldAppendWarm("regr")(q)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
    assertSameRows(warmDF, q(eventsFull), tol = 1e-6)
  }

  test("skewness/kurtosis cache via power sums; constant group matches vanilla NULL") {
    def q(df: DataFrame) = df
      .groupBy(col("event_type"))
      .agg(
        round(skewness(col("value")), 6).as("sk"),
        round(kurtosis(col("value")), 6).as("ku"),
        count(lit(1)).as("n"))
    val (warmDF, log) = coldAppendWarm("moments")(q)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
    assertSameRows(warmDF, q(eventsFull), tol = 1e-6)

    // constant series: vanilla's m2 == 0 branch yields NULL — the cached
    // near-zero-as-zero epsilon must land on the same NULL, not garbage
    import spark.implicits._
    val work = tmpDir("momconst")
    (1 to 8).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 0$i:00:00"), "k", 7.5))
      .toDF("ts", "k", "v").write.mode("overwrite").parquet(work)
    def qc(df: DataFrame) = df.groupBy("k")
      .agg(skewness(col("v")).as("sk"), kurtosis(col("v")).as("ku"))
    val out = QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
        defaultTemporalColumn = "ts"))
      .run(qc(spark.read.parquet(work))).collect().head
    val want = qc(spark.read.parquet(work)).collect().head
    assert(out.isNullAt(1) && out.isNullAt(2) && want.isNullAt(1) &&
      want.isNullAt(2), s"constant-series moments: $out vs $want")
  }

  test("weighted percentile caches exactly; zero freq skipped, negative raises") {
    def q(df: DataFrame) = df
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        expr("percentile(value, 0.5, CAST(pmod(user_id, 3) AS INT) + 1)").as("wp50"),
        expr("percentile(value, array(0.25, 0.9), pmod(user_id, 2))").as("wp_zero"),
        count(lit(1)).as("cnt"))
    val (warmDF, log) = coldAppendWarm("wpercentile")(q)
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
    // the histogram replays vanilla's expanded-multiset interpolation over
    // exact integer counts — bit-for-bit, not tolerance
    assertSameRows(warmDF, q(eventsFull), tol = 0.0)

    // negative frequency: vanilla's update throws at execution; the cached
    // state build must throw the same way, not cache garbage
    import spark.implicits._
    val work = tmpDir("wpneg")
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, 5.0),
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 2L, 6.0))
      .toDF("ts", "user_id", "v").write.mode("overwrite").parquet(work)
    def qn(df: DataFrame) = df.agg(
      expr("percentile(v, 0.5, CASE WHEN user_id = 2 THEN -1 ELSE 1 END)").as("p"))
    intercept[Exception] { qn(spark.read.parquet(work)).collect() }
    intercept[Exception] {
      QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
        defaultTemporalColumn = "ts"))
        .run(qn(spark.read.parquet(work))).collect()
    }
  }

  test("regrain: day query answered from warm hour state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("regrain-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def q(grain: String)(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc(grain, col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
    cold.run(q("hour")(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warmHour = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts"))
    warmHour.run(q("hour")(spark.read.parquet(work))).collect()

    // first-ever DAY sighting: regrain hit; the delta scan sits entirely
    // above the hour watermark, so parquet stats prune EVERY row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val day = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log2))
    val dayDF = day.run(q("day")(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      dayDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("regrain hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"day query scanned ${recs.sum()} fact rows — regrain rescanned history")
    // tolerance compare (the replay plan reads driver-held state, so the
    // re-collect below scans no files): re-aggregating hour partials
    // into day groups re-associates the double sum — same contract as
    // every other warm merge in this suite
    assertSameRows(dayDF, q("day")(eventsFull), tol = 1e-9)

    // the regrained run stored DAY-grain state: the second sighting is a
    // direct hit, no regrain needed
    val log3 = new RecordingLog
    val day2 = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log3))
    day2.run(q("day")(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("regrain hit")), log3.messages)

    // a grain with NO finer twin in cache stays a plain miss
    val log4 = new RecordingLog
    val wk = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log4))
    wk.run(q("minute")(spark.read.parquet(work))).collect()
    assert(log4.messages.exists(_.startsWith("cache miss")), log4.messages)
  }

  test("regrain never crosses strict-mode or differing-aggregate boundaries") {
    val (early, _, splitUs) = split()
    val work = tmpDir("regrain-neg")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def hourQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    // warm hour state exists (non-strict mode)
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      .run(hourQ(spark.read.parquet(work))).collect()

    // STRICT-mode day query: the finer fingerprint carries the :s1
    // suffix, so non-strict hour state must NOT answer it (state bands
    // differ — reusing would double-count rows in [wm, now))
    val logS = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logS).withStrictUpperBound)
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value")))
      .collect()
    assert(!logS.messages.exists(_.startsWith("regrain hit")), logS.messages)
    assert(logS.messages.exists(_.startsWith("cache miss")), logS.messages)

    // day query with a DIFFERENT aggregate list: the grain-substituted
    // plan no longer matches the hour twin — plain miss, no regrain
    val logA = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logA))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), min("value").as("min_value")))
      .collect()
    assert(!logA.messages.exists(_.startsWith("regrain hit")), logA.messages)
    assert(logA.messages.exists(_.startsWith("cache miss")), logA.messages)

    // control: the SAME aggregates at day grain DO regrain
    val logC = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logC))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value")))
      .collect()
    assert(logC.messages.exists(_.startsWith("regrain hit")), logC.messages)
  }

  test("redim: roll-up answered from warm drill-down state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("redim-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def rollup(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type")
    // warm the drill-down: cold + append + warm hit
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // first-ever ROLL-UP sighting: redim hit; delta entirely above the
    // drill-down watermark, so parquet stats prune every fact row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val rollDF = QueryCacheSession(spark, cfg(log2))
      .run(rollup(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      rollDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("redim hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"roll-up scanned ${recs.sum()} fact rows — redim rescanned history")
    assertSameRows(rollDF, rollup(eventsFull), tol = 1e-9)

    // the redim run stored roll-up state under its own fingerprint:
    // second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(rollup(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("redim hit")), log3.messages)
  }

  test("composed subsumption: day roll-up answered from warm (hour, dim) state") {
    val (early, late, splitUs) = split()
    val work = tmpDir("redim-composed")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drillHour(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def rollDay(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type")
    // ONLY the (hour, event_type) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drillHour(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drillHour(spark.read.parquet(work))).collect()
    // first-ever DAY-only sighting: no day state, no (day, dim) state,
    // no hour-only state — the composed probe regrains the dim twin
    val log = new RecordingLog
    val dayDF = QueryCacheSession(spark, cfg(log))
      .run(rollDay(spark.read.parquet(work)))
    assertSameRows(dayDF, rollDay(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("redim hit")), log.messages)
    assert(log.messages.exists(_.startsWith("regrain hit")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // the composed run stored day-only state: next sighting, direct hit
    val log2 = new RecordingLog
    QueryCacheSession(spark, cfg(log2))
      .run(rollDay(spark.read.parquet(work))).collect()
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(!log2.messages.exists(_.startsWith("redim hit")), log2.messages)
  }

  test("remeasure: subset-measure query answered from warm superset state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("remeasure-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def wide(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def narrow(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // warm the superset panel: cold + append + warm hit
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(wide(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(wide(spark.read.parquet(work))).collect()

    // first-ever count-only sighting: remeasure hit; delta entirely
    // above the superset watermark, so parquet stats prune every fact row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val narrowDF = QueryCacheSession(spark, cfg(log2))
      .run(narrow(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      narrowDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("remeasure hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"count-only query scanned ${recs.sum()} fact rows — remeasure rescanned history")
    assertSameRows(narrowDF, narrow(eventsFull), tol = 1e-9)

    // the remeasure run stored count-only state under its own
    // fingerprint: second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(narrow(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("remeasure hit")), log3.messages)
  }

  test("remeasure isolation: missing measure, differing child, strict crossover") {
    val (early, late, splitUs) = split()
    val work = tmpDir("remeasure-iso")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def wide(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None, strict: Boolean = false) =
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = nowUs, strictUpperBound = strict, log = log)
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(wide(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(wide(spark.read.parquet(work))).collect()

    // (a) a measure OUTSIDE the warm set (max) — covers check fails
    val logA = new RecordingLog
    val dfA = QueryCacheSession(spark, cfg(logA))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), max("value").as("max_value")))
    dfA.collect()
    assert(!logA.messages.exists(_.startsWith("remeasure hit")), logA.messages)
    assert(logA.messages.exists(_.startsWith("cache miss")), logA.messages)

    // (b) a different child (filter changed) — base fingerprint differs
    val logB = new RecordingLog
    QueryCacheSession(spark, cfg(logB))
      .run(spark.read.parquet(work).filter(col("value") > 2)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))).collect()
    assert(!logB.messages.exists(_.startsWith("remeasure hit")), logB.messages)

    // (c) strict-mode crossover — the fpSuffix keeps the bands apart
    val logC = new RecordingLog
    QueryCacheSession(spark, cfg(logC, strict = true))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"))).collect()
    assert(!logC.messages.exists(_.startsWith("remeasure hit")), logC.messages)
  }

  test("composed subsumption: day-only subset measures from warm hour superset state") {
    val (early, late, splitUs) = split()
    val work = tmpDir("remeasure-composed")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def wideHour(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def narrowDay(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the hour-grain (cnt, sum) panel is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(wideHour(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(wideHour(spark.read.parquet(work))).collect()
    // first-ever day/count-only sighting: no day state at any measure
    // set, no hour count-only state — the regrain probe's finer twin
    // resolves through measure subsumption, then re-truncates
    val log = new RecordingLog
    val dayDF = QueryCacheSession(spark, cfg(log))
      .run(narrowDay(spark.read.parquet(work)))
    assertSameRows(dayDF, narrowDay(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("regrain hit")), log.messages)
    assert(log.messages.exists(_.startsWith("remeasure hit")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // stored day/count-only state under its own fingerprint: direct hit
    val log2 = new RecordingLog
    QueryCacheSession(spark, cfg(log2))
      .run(narrowDay(spark.read.parquet(work))).collect()
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(!log2.messages.exists(_.startsWith("remeasure hit")), log2.messages)
  }

  test("rejoin: dim breakdown answered from warm fact-keyed state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rejoin-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    // the plain fact query, keyed by (day, join key)
    def factQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    // the dim breakdown over the fact ⋈ customer join
    def joinQ(df: DataFrame) = df.filter(col("value") > 1)
      .join(Tables.customer(spark, sf0001), df("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withStaticDimensions("customer")
    // warm ONLY the fact-keyed state: cold + append + warm
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(factQ(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(factQ(spark.read.parquet(work))).collect()

    // first-ever join-breakdown sighting: rejoin hit; only the dim table
    // and the pruned-empty fact delta are scanned — assert no fact ROW
    // is read by comparing against the dim's row count
    val dimRows = Tables.customer(spark, sf0001).count()
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val joinDF = QueryCacheSession(spark, cfg(log2))
      .run(joinQ(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      joinDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rejoin hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    // the replay reads the dim (twice: replay join + delta join) but
    // must not rescan fact history (delta files prune to zero rows)
    assert(recs.sum() <= 2 * dimRows,
      s"join breakdown read ${recs.sum()} rows (dim=$dimRows) — rejoin rescanned fact history")
    assertSameRows(joinDF, joinQ(eventsFull), tol = 1e-9)

    // stored its own dim-keyed state: second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(joinQ(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("rejoin hit")), log3.messages)
  }

  test("rejoin isolation: left join, dim measures, mixed grouping, extra conjunct") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rejoin-iso")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def factQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withStaticDimensions("customer")
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(factQ(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(factQ(spark.read.parquet(work))).collect()
    val cust = Tables.customer(spark, sf0001)

    // (a) LEFT join: null-extended fact rows have no state analog
    val logA = new RecordingLog
    QueryCacheSession(spark, cfg(logA))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .join(cust, col("user_id") === col("c_custkey"), "left")
        .groupBy(col("c_mktsegment"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))).collect()
    assert(!logA.messages.exists(_.startsWith("rejoin hit")), logA.messages)

    // (b) a measure referencing the DIM side — not in the fact state
    val logB = new RecordingLog
    QueryCacheSession(spark, cfg(logB))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum("c_acctbal").as("bal"))).collect()
    assert(!logB.messages.exists(_.startsWith("rejoin hit")), logB.messages)

    // (c) a grouping expression mixing both sides
    val logC = new RecordingLog
    QueryCacheSession(spark, cfg(logC))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy((col("user_id") + col("c_custkey")).as("k"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))).collect()
    assert(!logC.messages.exists(_.startsWith("rejoin hit")), logC.messages)

    // (d) an extra join conjunct — not the single-equi-pair shape
    val logD = new RecordingLog
    QueryCacheSession(spark, cfg(logD))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .join(cust, col("user_id") === col("c_custkey") &&
          col("c_acctbal") > 0)
        .groupBy(col("c_mktsegment"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))).collect()
    assert(!logD.messages.exists(_.startsWith("rejoin hit")), logD.messages)
  }

  test("heavy hitters through the cache: bounds hold in the shrinking regime") {
    import graft.functions.functions.heavy_hitters
    // wide item domain (user_id % 97 ~ 97 items) against k=16: partials
    // SHRINK, so the cached summary carries real error — the contract is
    // the bounds envelope, not counter equality (the HLL precedent)
    val k = 16
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(heavy_hitters((col("user_id") % 97).cast("string"), k).as("hh"))
    val (warmDF, log) = coldAppendWarm("hhsketch")(q)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    val exact = eventsFull.filter(col("value") > 1)
      .groupBy(date_trunc("month", col("ts")).as("month"),
        (col("user_id") % 97).cast("string").as("item"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val groupN = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = warmDF.collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val month = row.getTimestamp(0)
      val hh = row.getSeq[Row](1)
        .map(e => (e.getString(0), e.getLong(1), e.getLong(2)))
      assert(hh.length <= k, s"$month: ${hh.length} counters")
      val present = hh.map(_._1).toSet
      hh.foreach { case (item, cnt, ub) =>
        val t = exact((month, item))
        assert(cnt <= t && t <= ub, s"$month/$item bounds $cnt/$t/$ub")
      }
      val thr = groupN(month) / (k + 1)
      exact.foreach { case ((m, item), t) =>
        if (m == month && t > thr)
          assert(present.contains(item), s"heavy $item missing in $month")
      }
    }
  }

  test("refilter: dimension slice answered from warm drill-down state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("refilter-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def slice(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def sliceIn(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type").isin("click", "error"))
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type")
    // ONLY the unfiltered (hour, event_type) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // first-ever SLICE sighting: refilter hit; delta entirely above the
    // drill-down watermark, so parquet stats prune every fact row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val sliceDF = QueryCacheSession(spark, cfg(log2))
      .run(slice(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      sliceDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("refilter hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"slice scanned ${recs.sum()} fact rows — refilter rescanned history")
    assertSameRows(sliceDF, slice(eventsFull), tol = 1e-9)

    // an IN-list slice over the SAME warm drill-down state also refilters
    val logIn = new RecordingLog
    val inDF = QueryCacheSession(spark, cfg(logIn))
      .run(sliceIn(spark.read.parquet(work)))
    assertSameRows(inDF, sliceIn(eventsFull), tol = 1e-9)
    assert(logIn.messages.exists(_.startsWith("refilter hit")), logIn.messages)

    // the refilter run stored sliced state under its own fingerprint:
    // second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(slice(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("refilter hit")), log3.messages)
  }

  test("rerange: aligned window slice answered from warm unbounded state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rerange-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def agg(df: DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("ts").as("last_ts"))
    def unbounded(df: DataFrame) = agg(df.filter(col("value") > 1))
    def win(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= "2024-01-08 00:00:00" && col("ts") < "2024-01-15 00:00:00"))
    // inclusive-upper form: ts <= last micro of Jan 14 ≡ ts < Jan 15
    def winIncl(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") > "2024-01-07 23:59:59.999999" &&
      col("ts") <= "2024-01-14 23:59:59.999999"))
    // half-hour lower bound is NOT hour-aligned — must bail to plain miss
    def winMisaligned(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= "2024-01-08 00:30:00"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the unbounded hourly query is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(unbounded(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(unbounded(spark.read.parquet(work))).collect()

    // first-ever sighting of the week window: rerange hit; delta sits
    // entirely above the unbounded watermark, so parquet stats prune
    // every fact row — including a max(ts) measure over the temporal
    // column itself, which bucket-complete slicing keeps exact
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val winDF = QueryCacheSession(spark, cfg(log2))
      .run(win(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      winDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rerange hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"window slice scanned ${recs.sum()} fact rows — rerange rescanned history")
    assertSameRows(winDF, win(eventsFull), tol = 1e-9)

    // strict/inclusive bounds normalize (+1µs) to the same aligned window
    val logIncl = new RecordingLog
    val inclDF = QueryCacheSession(spark, cfg(logIncl))
      .run(winIncl(spark.read.parquet(work)))
    assertSameRows(inclDF, winIncl(eventsFull), tol = 1e-9)
    assert(logIncl.messages.exists(_.startsWith("rerange hit")), logIncl.messages)

    // the rerange run stored sliced state under its own fingerprint:
    // second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(win(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("rerange hit")), log3.messages)

    // a bound inside a bucket reranges WITH COMPENSATION: the complete
    // interior buckets replay from state, the half-hour edge sliver is
    // answered by a bounded scan — exact even for max(ts) over the
    // temporal column itself (the edge bucket's rows come only from the
    // sliver scan + delta; the interior slice excludes that bucket)
    val logM = new RecordingLog
    val misDF = QueryCacheSession(spark, cfg(logM))
      .run(winMisaligned(spark.read.parquet(work)))
    assertSameRows(misDF, winMisaligned(eventsFull), tol = 1e-9)
    assert(logM.messages.exists(m => m.startsWith("rerange hit") &&
      m.contains("compensation scan over 1 partial edge bucket(s)")),
      logM.messages)
  }

  test("rerange composes with refilter: windowed dim slice from warm unbounded drill-down") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rerange-composed")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def winSlice(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") === "click" &&
        col("ts") >= "2024-01-08 00:00:00" && col("ts") < "2024-01-15 00:00:00")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type")
    // ONLY the unbounded (hour, event_type) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // cold window+slice: rerange strips the bounds, refilter strips the
    // dim conjunct, the drill-down state slices on both keys
    val log = new RecordingLog
    val df = QueryCacheSession(spark, cfg(log))
      .run(winSlice(spark.read.parquet(work)))
    assertSameRows(df, winSlice(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rerange hit")), log.messages)
    assert(log.messages.exists(_.startsWith("refilter hit")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("rerange compensation: both-ends-unaligned window from warm state + sliver scans") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rerange-comp")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def agg(df: DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max(col("ts")).as("last_ts"))
    def unbounded(df: DataFrame) = agg(df.filter(col("value") > 1))
    // both bounds sit INSIDE hour buckets — two edge slivers
    def win(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= "2024-01-08 06:30:00" && col("ts") < "2024-01-14 18:45:00"))
    // whole window inside ONE bucket: no complete interior bucket — no
    // state value, must run as a plain miss
    def tiny(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= "2024-01-08 10:15:00" && col("ts") < "2024-01-08 10:45:00"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the unbounded hourly query is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(unbounded(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(unbounded(spark.read.parquet(work))).collect()

    // first sighting: interior buckets replay from state, the two edge
    // slivers come from the bounded compensation scan; exact even for
    // max(ts) over the temporal column itself (edge-bucket rows come
    // only from the sliver scan + delta)
    val log = new RecordingLog
    val df = QueryCacheSession(spark, cfg(log))
      .run(win(spark.read.parquet(work)))
    assertSameRows(df, win(eventsFull), tol = 1e-9)
    assert(log.messages.exists(m => m.startsWith("rerange hit") &&
      m.contains("compensation scan over 2 partial edge bucket(s)")),
      log.messages)

    // the compensated run stored this query's own full state — second
    // sighting is a direct hit, no rerange
    val log2 = new RecordingLog
    QueryCacheSession(spark, cfg(log2))
      .run(win(spark.read.parquet(work))).collect()
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(!log2.messages.exists(_.startsWith("rerange hit")), log2.messages)

    // sub-bucket window: bails to a plain miss, still correct
    val log3 = new RecordingLog
    val tinyDF = QueryCacheSession(spark, cfg(log3))
      .run(tiny(spark.read.parquet(work)))
    assertSameRows(tinyDF, tiny(eventsFull), tol = 1e-9)
    assert(!log3.messages.exists(_.startsWith("rerange hit")), log3.messages)
  }

  test("rerange compensation composes with a dynamic lower bound") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rerange-dyn")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def agg(df: DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max(col("ts")).as("last_ts"))
    def dyn(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= (current_timestamp() - expr("INTERVAL 20 DAYS"))))
    // the dynamic bound PLUS a both-ends-unaligned static window: the
    // static conjuncts strip to the dynamic twin, interior buckets slice
    // from its state, the two edge slivers come from a compensation scan
    // (with the dynamic conjunct stripped — it is bucket-granular, not
    // row-level), and the frozen bound re-applies over bucket starts at
    // answer time, cutting interior buckets AND the lower sliver alike
    def win(df: DataFrame) = agg(df.filter(col("value") > 1 &&
      col("ts") >= (current_timestamp() - expr("INTERVAL 20 DAYS")) &&
      col("ts") >= "2024-01-08 06:30:00" && col("ts") < "2024-01-14 18:45:00"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log,
      dynamicBoundBucketGranularity = true)
    // ONLY the unbounded dynamic query is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(dyn(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    val warmNow = eventsFull
      .selectExpr("max(unix_micros(ts))").first().getLong(0) + 1
    QueryCacheSession(spark, cfg(nowUs = Some(warmNow)))
      .run(dyn(spark.read.parquet(work))).collect()
    // first sighting of the windowed variant: rerange hit with 2 slivers
    // (used to bail outright when a dynamic bound coexisted with slivers)
    val log = new RecordingLog
    val df = QueryCacheSession(spark, cfg(log, Some(warmNow)))
      .run(win(spark.read.parquet(work)))
    assert(log.messages.exists(m => m.startsWith("rerange hit") &&
      m.contains("compensation scan over 2 partial edge bucket(s)")),
      log.messages)
    // expected: row-level static window, bucket-granularity dynamic bound
    // (bound rounded UP to the next hour start — ~Jan 11, inside the window)
    val boundUs = warmNow - 20L * 86400L * 1000000L
    val alignedUs = ((boundUs + 3599999999L) / 3600000000L) * 3600000000L
    val want = agg(eventsFull.filter(col("value") > 1 &&
      col("ts") >= timestamp_micros(lit(alignedUs)) &&
      col("ts") >= "2024-01-08 06:30:00" && col("ts") < "2024-01-14 18:45:00"))
    assertSameRows(df, want, tol = 1e-9)
  }

  test("factorized join: sum/avg(DISTINCT) via twin set states; decimal " +
      "avg(DISTINCT) bails") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    def partB(df: DataFrame) = df
      .filter(col("event_type") === "purchase")
      .selectExpr("ts", "user_id AS puid", "value AS pvalue")
    val workA = tmpDir("factdist-a")
    val workB = tmpDir("factdist-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    partB(early).write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def q(a: DataFrame, b: DataFrame) = a
      .join(b, a("user_id") === b("puid"), "inner")
      .groupBy(date_trunc("hour", a("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"),
        sum_distinct(a("user_id")).as("sum_users"),
        round(expr("avg(DISTINCT CAST(user_id AS DOUBLE))"), 6)
          .as("avg_user"),
        sum_distinct(b("pvalue")).as("sum_d_purchase"))
    def vanilla = q(spark.read.parquet(workA), spark.read.parquet(workB))
    def cfg(log: RecordingLog, nowUs: Option[Long] = None) =
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = nowUs, log = log)
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
      .collect()
    assert(log1.messages.exists(_.startsWith("factorized join: answered")),
      log1.messages)
    part(late, "click").write.mode("append").parquet(workA)
    partB(late).write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(log2.messages.exists(_.startsWith("factorized join: answered")),
      log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)
    assertSameRows(warm, vanilla)

    // avg(DISTINCT <decimal>) bails loudly (vanilla decimal Average
    // typing is not reproduced on the factorized path) — and the bail
    // runs vanilla, still correct
    def qDec(a: DataFrame, b: DataFrame) = a
      .join(b, a("user_id") === b("puid"), "inner")
      .groupBy(date_trunc("hour", a("ts")).as("hour"))
      .agg(expr("avg(DISTINCT CAST(pvalue AS DECIMAL(18,4)))").as("avg_dec"))
    val log3 = new RecordingLog
    val dec = QueryCacheSession(spark, cfg(log3))
      .run(qDec(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(log3.messages.exists(_.contains("avg(DISTINCT <decimal>)")),
      log3.messages)
    assertSameRows(dec,
      qDec(spark.read.parquet(workA), spark.read.parquet(workB)))
  }

  test("factorized join: both-sides-growing join aggregate, appends absorbed per side") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factjoin-a")
    val workB = tmpDir("factjoin-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def q(a: DataFrame, b: DataFrame) = {
      a.join(b, a("user_id") === b("user_id"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"),
          sum(a("value")).as("sum_click"),
          min(b("value")).as("min_purchase"),
          max(a("value")).as("max_click"),
          avg(b("value")).as("avg_purchase"),
          countDistinct(a("user_id")).as("n_users"))
    }
    // vanilla reference from fresh disk reads: deriving both sides from
    // the same eventsFull plan is a self-join whose a("...")/b("...")
    // refs Spark cannot disambiguate (trivially-true-predicate trap)
    def vanilla = q(spark.read.parquet(workA), spark.read.parquet(workB))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)

    // cold: the factorized rewrite engages, both twins miss and store
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB))).collect()
    assert(log1.messages.exists(_.startsWith("factorized join: answered")), log1.messages)
    assert(log1.messages.count(_.startsWith("cache miss")) == 2, log1.messages)

    // append to BOTH tables; warm run hits both twin states and equals
    // vanilla over the full data. Controlled `now` (= just past the data)
    // so the later one-sided append can sit above the watermark.
    val maxUs = eventsFull.selectExpr("CAST(max(unix_micros(ts)) AS LONG)")
      .first().getLong(0) + 1L
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val warmDF = QueryCacheSession(spark, cfg(log2, Some(maxUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(warmDF, vanilla)
    assert(log2.messages.exists(_.startsWith("factorized join: answered")), log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)

    // second warm with NO new appends: both twin deltas prune to zero
    // fact rows (parquet stats), the combine runs purely on state
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val again = QueryCacheSession(spark, cfg(nowUs = Some(maxUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    spark.sparkContext.addSparkListener(listener)
    try {
      again.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recs.sum() == 0L,
      s"no-append warm run scanned ${recs.sum()} fact rows — the " +
        "factorized path rescanned a fact table")

    // one-sided append ABOVE the watermark (the append contract: new rows
    // arrive later than the previous run's now): only the click twin's
    // delta has rows, the purchase twin prunes to zero
    part(late, "click")
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(maxUs - splitUs)))
      .write.mode("append").parquet(workA)
    val oneSided = QueryCacheSession(spark, cfg())
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(oneSided, vanilla)
  }

  test("no whitelisted state silently falls back on the warm path") {
    // the round-9 distinct bug class: a warm run that logs "cache hit"
    // can still throw INSIDE the rewrite (unit/merge cast, schema drift)
    // and silently degrade to vanilla — correct answers, no speedup, and
    // only this assertion notices. One cycle per state family.
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "counts" -> (df => df.groupBy(col("event_type")).agg(
        count(lit(1)).as("cnt"), sum("value").as("s"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("av"))),
      "moments" -> (df => df.groupBy(col("event_type")).agg(
        var_samp("value").as("v"), stddev_pop("value").as("sd"),
        skewness("value").as("sk"), kurtosis("value").as("ku"))),
      "corr" -> (df => df.groupBy(col("event_type")).agg(
        corr(col("value"), col("user_id").cast("double")).as("c"),
        covar_samp(col("value"), col("user_id").cast("double")).as("cv"))),
      "distinct" -> (df => df.groupBy(col("event_type")).agg(
        countDistinct(col("user_id")).as("cd"),
        sum_distinct(col("user_id")).as("sd"))),
      "collectset" -> (df => df.groupBy(col("event_type")).agg(
        sort_array(collect_set(col("user_id"))).as("us"))),
      "maxby" -> (df => df.groupBy(col("event_type")).agg(
        max_by(col("user_id"), col("value")).as("mb"),
        min_by(col("user_id"), col("value")).as("nb"))),
      "bools" -> (df => df.groupBy(col("event_type")).agg(
        bool_and(col("value") > 0).as("ba"), bool_or(col("value") > 100).as("bo"))),
      "bits" -> (df => df.groupBy(col("event_type")).agg(
        bit_and(col("user_id")).as("band"), bit_or(col("user_id")).as("bor"),
        bit_xor(col("user_id")).as("bxor"))),
      "percentile" -> (df => df.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("approx_percentile(value, 0.9)").as("p90"))),
      "mode" -> (df => df.groupBy(col("event_type")).agg(
        expr("mode(user_id)").as("m"))),
      "hll" -> (df => df.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id")).as("acd"))))
    cases.foreach { case (tag, q) =>
      val (warmDF, log) = coldAppendWarm(s"sweep-$tag")(q)
      warmDF.collect()
      assert(log.messages.exists(_.startsWith("cache hit")),
        s"$tag never hit: ${log.messages}")
      assert(!log.messages.exists(_.contains("cache rewrite failed")),
        s"$tag silently fell back: ${log.messages}")
      assert(!log.messages.exists(_.startsWith("not caching")),
        s"$tag was not cacheable: ${log.messages}")
    }
  }

  test("factorized join composes: durable twins across sessions, remeasure for subset measures") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factjoin-dur-a")
    val workB = tmpDir("factjoin-dur-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cacheDir = tmpDir("factjoin-dur-cache")
    def freshCache() = new graft.cache.ParquetQueryCache(cacheDir)
    def q(a: DataFrame, b: DataFrame) =
      a.join(b, a("user_id") === b("user_id"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"), sum(a("value")).as("sum_click"),
          min(b("value")).as("min_purchase"))
    def qCnt(a: DataFrame, b: DataFrame) =
      a.join(b, a("user_id") === b("user_id"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
    def vanilla(f: (DataFrame, DataFrame) => DataFrame) =
      f(spark.read.parquet(workA), spark.read.parquet(workB))
    def cfg(log: RecordingLog, nowUs: Option[Long] = None) =
      QueryCacheConfig(freshCache(), defaultTemporalColumn = "ts",
        overrideNowMicros = nowUs, log = log)

    // cold session: twin states land on disk
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB))).collect()
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)

    // warm run through a FRESH cache handle (new session): both twin
    // states round-trip through parquet
    val log2 = new RecordingLog
    val warm = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(warm, vanilla(q))
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)
    assert(log2.messages.exists(_.startsWith("factorized join: answered")), log2.messages)

    // count-only variant, fresh handle again: each twin is a measure
    // SUBSET of its warm superset twin — remeasure answers both through
    // the durable measure index, composing inside the factorization
    val log3 = new RecordingLog
    val cntDF = QueryCacheSession(spark, cfg(log3))
      .run(qCnt(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(cntDF, vanilla(qCnt))
    assert(log3.messages.count(_.startsWith("remeasure hit")) == 2, log3.messages)
    assert(log3.messages.exists(_.startsWith("factorized join: answered")), log3.messages)
  }

  test("factorized semi/anti join: EXISTS and NOT EXISTS share the same twin states") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factsemi-a")
    val workB = tmpDir("factsemi-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def q(joinType: String)(a: DataFrame, b: DataFrame) = {
      val bf = b.filter(col("value") > 50) // B-side filter = EXISTS predicate
      a.join(bf, a("user_id") === bf("user_id"), joinType)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_click"),
          countDistinct(col("user_id")).as("n_users"))
    }
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    def reads = (spark.read.parquet(workA), spark.read.parquet(workB))

    // cold EXISTS: two twin misses
    val log1 = new RecordingLog
    locally { val (a, b) = reads
      QueryCacheSession(spark, cfg(log1, Some(splitUs)))
        .run(q("left_semi")(a, b)).collect() }
    assert(log1.messages.exists(_.startsWith("factorized join: answered")), log1.messages)
    assert(log1.messages.count(_.startsWith("cache miss")) == 2, log1.messages)

    // first-ever NOT EXISTS: the semi and anti variants decompose into
    // IDENTICAL twins (A stats at (user, hour); filtered B membership),
    // so the anti query hits BOTH states without ever having run
    val log2 = new RecordingLog
    locally { val (a, b) = reads
      QueryCacheSession(spark, cfg(log2, Some(splitUs)))
        .run(q("left_anti")(a, b)).collect() }
    assert(log2.messages.exists(_.startsWith("factorized join: answered")), log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)
    assert(!log2.messages.exists(_.startsWith("cache miss")), log2.messages)

    // append both; warm semi and anti equal vanilla over the full tables
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)
    Seq("left_semi", "left_anti").foreach { jt =>
      val log = new RecordingLog
      val got = locally { val (a, b) = reads
        QueryCacheSession(spark, cfg(log)).run(q(jt)(a, b)) }
      val want = locally { val (a, b) = reads; q(jt)(a, b) }
      assertSameRows(got, want)
      assert(log.messages.exists(_.startsWith("factorized join: answered")),
        s"$jt: ${log.messages}")
      assert(log.messages.count(_.startsWith("cache hit")) == 2,
        s"$jt: ${log.messages}")
    }
  }

  test("factorized outer join: null-extension preserved, nullable-side guardrails bail") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    // restrict purchases to even users so unmatched click users EXIST —
    // the null-extension path is actually exercised
    def purchases(df: DataFrame) =
      part(df, "purchase").filter(col("user_id") % 2 === 0)
    val workA = tmpDir("factouter-a")
    val workB = tmpDir("factouter-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    purchases(early).write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def q(a: DataFrame, b: DataFrame) = a
      .join(b, a("user_id") === b("user_id"), "left_outer")
      .groupBy(date_trunc("hour", a("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"),
        sum(a("value")).as("sum_click"),
        min(b("value")).as("min_purchase"),
        count(b("value")).as("n_purchase"),
        avg(b("value")).as("avg_purchase"),
        countDistinct(b("user_id")).as("n_buyers"))
    def reads = (spark.read.parquet(workA), spark.read.parquet(workB))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)

    // the fixture really has unmatched click rows (left-join null extension)
    locally { val (a, b) = reads
      assert(a.join(b, a("user_id") === b("user_id"), "left_anti").count() > 0,
        "fixture lost its unmatched click users — the test is vacuous") }

    // cold: factorized, both twins miss and store
    val log1 = new RecordingLog
    locally { val (a, b) = reads
      QueryCacheSession(spark, cfg(log1, Some(splitUs)))
        .run(q(a, b)).collect() }
    assert(log1.messages.exists(_.startsWith("factorized join: answered")), log1.messages)
    assert(log1.messages.count(_.startsWith("cache miss")) == 2, log1.messages)

    // append BOTH sides; warm == vanilla over the full tables (incl.
    // null-extended groups: hours whose users bought nothing have NULL
    // min/avg and zero n_purchase)
    part(late, "click").write.mode("append").parquet(workA)
    purchases(late).write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val warm = locally { val (a, b) = reads
      QueryCacheSession(spark, cfg(log2)).run(q(a, b)) }
    val vanilla = locally { val (a, b) = reads; q(a, b) }
    assertSameRows(warm, vanilla)
    assert(log2.messages.exists(_.startsWith("factorized join: answered")), log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)

    // guardrail: a null-TOLERANT WHERE conjunct on the null-extended side
    // (passes on null-extended rows, so it neither demotes the join nor
    // commutes into the twin) — bail to vanilla, answers still correct.
    // (A null-REJECTING conjunct here demotes to inner and factorizes —
    // covered by the EliminateOuterJoin demotion test.)
    val logF = new RecordingLog
    val fGot = locally { val (a, b) = reads
      val j = a.join(b, a("user_id") === b("user_id"), "left_outer")
      QueryCacheSession(spark, cfg(logF)).run(
        j.filter(b("value").isNull || b("value") > 10)
          .groupBy(date_trunc("hour", a("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))) }
    val fWant = locally { val (a, b) = reads
      a.join(b, a("user_id") === b("user_id"), "left_outer")
        .filter(b("value").isNull || b("value") > 10)
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt")) }
    assertSameRows(fGot, fWant)
    assert(logF.messages.exists(_.contains(
      "filter on the null-extended right side")), logF.messages)
    assert(!logF.messages.exists(_.startsWith("factorized join: answered")),
      logF.messages)

    // guardrail: a non-bare measure on the null-extended side (its value
    // under a missing partner is NOT null per row) bails to vanilla
    val logE = new RecordingLog
    val eGot = locally { val (a, b) = reads
      QueryCacheSession(spark, cfg(logE)).run(
        a.join(b, a("user_id") === b("user_id"), "left_outer")
          .groupBy(date_trunc("hour", a("ts")).as("hour"))
          .agg(sum(coalesce(b("value"), lit(0.0))).as("s"))) }
    val eWant = locally { val (a, b) = reads
      a.join(b, a("user_id") === b("user_id"), "left_outer")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(sum(coalesce(b("value"), lit(0.0))).as("s")) }
    assertSameRows(eGot, eWant, tol = 1e-9)
    assert(logE.messages.exists(_.contains(
      "measure expression on the null-extended side")), logE.messages)
    assert(!logE.messages.exists(_.startsWith("factorized join: answered")),
      logE.messages)
  }

  test("factorized join recurses over a three-table join tree") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val wa = tmpDir("factjoin3-a")
    val wb = tmpDir("factjoin3-b")
    val wc = tmpDir("factjoin3-c")
    part(early, "click").write.mode("overwrite").parquet(wa)
    part(early, "purchase").write.mode("overwrite").parquet(wb)
    part(early, "signup").write.mode("overwrite").parquet(wc)
    val cache = new MemoryQueryCache()
    def q(a: DataFrame, b: DataFrame, c: DataFrame) =
      a.join(b, a("user_id") === b("user_id"), "inner")
        .join(c, a("user_id") === c("user_id"), "inner")
        .groupBy(date_trunc("day", a("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum(a("value")).as("sum_click"),
          min(c("value")).as("min_signup"))
    def read3 = (spark.read.parquet(wa), spark.read.parquet(wb),
      spark.read.parquet(wc))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)

    // cold: the (A⋈B) twin is itself an aggregate over an inner
    // equi-join, so the factorization recurses — two factorized levels,
    // THREE leaf states (clicks/purchases/signups), each missing once
    val log1 = new RecordingLog
    locally {
      val (a, b, c) = read3
      QueryCacheSession(spark, cfg(log1, Some(splitUs))).run(q(a, b, c)).collect()
    }
    assert(log1.messages.count(_.startsWith("factorized join: answered")) == 2,
      log1.messages)
    assert(log1.messages.count(_.startsWith("cache miss")) == 3, log1.messages)

    // append to all three; warm run hits all three leaf states and
    // equals vanilla over the full tables
    part(late, "click").write.mode("append").parquet(wa)
    part(late, "purchase").write.mode("append").parquet(wb)
    part(late, "signup").write.mode("append").parquet(wc)
    val log2 = new RecordingLog
    val warm = locally {
      val (a, b, c) = read3
      QueryCacheSession(spark, cfg(log2)).run(q(a, b, c))
    }
    val vanilla = locally { val (a, b, c) = read3; q(a, b, c) }
    assertSameRows(warm, vanilla)
    assert(log2.messages.count(_.startsWith("cache hit")) == 3, log2.messages)
    assert(log2.messages.count(_.startsWith("factorized join: answered")) == 2,
      log2.messages)
  }

  test("factorized join: unsupported shapes run vanilla") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factjoin-bail-a")
    val workB = tmpDir("factjoin-bail-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)

    def run(log: RecordingLog)(
        q: (DataFrame, DataFrame) => DataFrame): DataFrame =
      QueryCacheSession(spark, QueryCacheConfig(new MemoryQueryCache(),
        defaultTemporalColumn = "ts", log = log))
        .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))

    // left outer joins now FACTORIZE (see the dedicated outer test);
    // this test keeps the still-unsupported shapes pinned vanilla
    // vanilla references from fresh disk reads (self-join lineage trap —
    // see the sibling test)
    def vanilla(q: (DataFrame, DataFrame) => DataFrame): DataFrame =
      q(spark.read.parquet(workA), spark.read.parquet(workB))

    // cross-side measure: sum(a.value * b.value) is not a product of
    // per-side states — vanilla, still correct
    def qCross(a: DataFrame, b: DataFrame) =
      a.join(b, a("user_id") === b("user_id"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(sum(a("value") * b("value")).as("xsum"))
    val logCross = new RecordingLog
    assertSameRows(run(logCross)(qCross), vanilla(qCross))
    assert(!logCross.messages.exists(_.startsWith("factorized join: answered")),
      logCross.messages)
  }

  test("regroup: rollup/cube/grouping-sets answered from warm drill-down state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("regroup-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def roll(df: DataFrame) = df.filter(col("value") > 1)
      .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cube2(df: DataFrame) = df.filter(col("value") > 1)
      .cube(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the plain (day, event_type) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // first-ever ROLLUP sighting: regroup hit — the drill-down state
    // re-expands through the 3 grouping sets; the delta sits entirely
    // above the drill-down watermark so parquet stats prune every row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val rollDF = QueryCacheSession(spark, cfg(log2))
      .run(roll(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      rollDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("regroup hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"rollup scanned ${recs.sum()} fact rows — regroup rescanned history")
    assertSameRows(rollDF, roll(spark.read.parquet(work)).where(lit(true)),
      tol = 1e-9)

    // CUBE (different fingerprint, 4 sets incl. the et-only subtotal the
    // rollup lacks): same drill-down state serves it
    val log3 = new RecordingLog
    val cubeDF = QueryCacheSession(spark, cfg(log3))
      .run(cube2(spark.read.parquet(work)))
    assertSameRows(cubeDF, cube2(spark.read.parquet(work)), tol = 1e-9)
    assert(log3.messages.exists(_.startsWith("regroup hit")), log3.messages)

    // GROUPING SETS without the full grain: still answered from (day, et)
    spark.read.parquet(work).createOrReplaceTempView("regroup_events")
    def gsets() = spark.sql(
      """SELECT date_trunc('day', ts) AS day, event_type,
           count(1) AS cnt, sum(value) AS sum_value
         FROM regroup_events WHERE value > 1
         GROUP BY GROUPING SETS ((date_trunc('day', ts)), (event_type))""")
    val log4 = new RecordingLog
    val gsDF = QueryCacheSession(spark, cfg(log4)).run(gsets())
    assertSameRows(gsDF, gsets(), tol = 1e-9)
    assert(log4.messages.exists(_.startsWith("regroup hit")), log4.messages)

    // second rollup sighting: the regroup run stored rollup state under
    // its own fingerprint — direct hit now
    val log5 = new RecordingLog
    QueryCacheSession(spark, cfg(log5))
      .run(roll(spark.read.parquet(work))).collect()
    assert(log5.messages.exists(_.startsWith("cache hit")), log5.messages)
    assert(!log5.messages.exists(_.startsWith("regroup hit")), log5.messages)
  }

  test("regroup works through the durable cache across sessions") {
    val (early, late, splitUs) = split()
    val work = tmpDir("regroup-durable")
    early.write.mode("overwrite").parquet(work)
    val cacheDir = tmpDir("regroup-durable-cache")
    def freshCache() = new graft.cache.ParquetQueryCache(cacheDir)
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def roll(df: DataFrame) = df.filter(col("value") > 1)
      .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog, nowUs: Option[Long] = None) =
      QueryCacheConfig(freshCache(), defaultTemporalColumn = "ts",
        overrideNowMicros = nowUs, log = log)
    // drill-down warmed through one handle; every later run takes a FRESH
    // handle, so the rollup's regroup probe reads the meta/state from disk
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog))
      .run(drill(spark.read.parquet(work))).collect()
    val log = new RecordingLog
    val rollDF = QueryCacheSession(spark, cfg(log))
      .run(roll(spark.read.parquet(work)))
    assertSameRows(rollDF, roll(spark.read.parquet(work)), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("regroup hit")), log.messages)
  }

  test("rehop: sliding window answered from warm tumbling state, zero fact rows scanned") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rehop-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def tum(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def hop(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    // 1 hour is NOT a multiple of 25 minutes — must bail to a plain miss
    def hopOdd(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour", "25 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the tumbling 15-minute query is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(tum(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(tum(spark.read.parquet(work))).collect()

    // first-ever sighting of the 1h/15m hopping window: rehop hit; the
    // tumbling state explodes ×4 into hop windows, delta entirely above
    // the tumbling watermark so parquet stats prune every fact row
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val hopDF = QueryCacheSession(spark, cfg(log2))
      .run(hop(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      hopDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rehop hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"hopping query scanned ${recs.sum()} fact rows — rehop rescanned history")
    assertSameRows(hopDF.select(col("w.start"), col("w.end"),
        col("cnt"), col("sum_value"), col("min_value")),
      hop(eventsFull).select(col("w.start"), col("w.end"),
        col("cnt"), col("sum_value"), col("min_value")), tol = 1e-9)

    // the rehop run stored hopping state under its own fingerprint:
    // second sighting is a direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(hop(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("rehop hit")), log3.messages)

    // a duration that is not a slide multiple never rehops (the analyzer
    // still builds ceil(d/s)=3 shifted projections, but no tumbling twin
    // is sound) — plain miss, still correct
    val logOdd = new RecordingLog
    val oddDF = QueryCacheSession(spark, cfg(logOdd))
      .run(hopOdd(spark.read.parquet(work)))
    assertSameRows(oddDF.select(col("w.start"), col("cnt"),
        col("sum_value"), col("min_value")),
      hopOdd(eventsFull).select(col("w.start"), col("cnt"),
        col("sum_value"), col("min_value")), tol = 1e-9)
    assert(!logOdd.messages.exists(_.startsWith("rehop hit")), logOdd.messages)
    assert(logOdd.messages.exists(_.startsWith("rehop bail")), logOdd.messages)
  }

  test("retumble: coarse tumbling window answered from warm finer tumbling state") {
    val (early, late, splitUs) = split()
    val work = tmpDir("retumble-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def q(dur: String)(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), dur).as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"), col("min_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the fine 15-minute tumbling query is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(q("15 minutes")(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(q("15 minutes")(spark.read.parquet(work))).collect()

    // first-ever 1-hour tumbling query: retumble hit — every fine state
    // row re-buckets into its containing hour, delta above the fine
    // watermark prunes to zero fact rows
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val hourDF = QueryCacheSession(spark, cfg(log2))
      .run(q("1 hour")(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      hourDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("retumble hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"coarse tumbling query scanned ${recs.sum()} fact rows — retumble rescanned history")
    assertSameRows(flat(hourDF), flat(q("1 hour")(eventsFull)), tol = 1e-9)

    // second sighting: the retumble run stored hour state — direct hit
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(q("1 hour")(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("retumble hit")), log3.messages)

    // a duration the fine grain does not divide never retumbles —
    // plain miss, still correct (25 min is not a multiple of 15)
    val logOdd = new RecordingLog
    val oddDF = QueryCacheSession(spark, cfg(logOdd))
      .run(q("25 minutes")(spark.read.parquet(work)))
    assertSameRows(flat(oddDF), flat(q("25 minutes")(eventsFull)), tol = 1e-9)
    assert(!logOdd.messages.exists(_.startsWith("retumble hit")), logOdd.messages)
  }

  test("rehop composes with retumble: hopping query served from a 5-minute tumbling state") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rehop-retumble")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def fine(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def hop(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the 5-minute tumbling query is ever warmed — neither the
    // hopping query nor its 15-minute tumbling twin has ever run
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(fine(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(fine(spark.read.parquet(work))).collect()

    // hop probes its 15m tumbling twin (cold) → retumble finds the warm
    // 5m state two levels down: re-bucket 5m→15m, then explode ×4
    val log = new RecordingLog
    val hopDF = QueryCacheSession(spark, cfg(log))
      .run(hop(spark.read.parquet(work)))
    assertSameRows(flat(hopDF), flat(hop(eventsFull)), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rehop hit")), log.messages)
    assert(log.messages.exists(_.startsWith("retumble hit")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
  }

  test("rewindow: a tumbling window answered from the date_trunc spelling's warm state") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rewindow-spec")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def dt(grain: String)(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc(grain, col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def win(dur: String)(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), dur).as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"), col("min_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // ONLY the date_trunc('hour') spelling is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(dt("hour")(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(dt("hour")(spark.read.parquet(work))).collect()

    // composes with regrain: a DAY window probes while ONLY hour-trunc
    // state exists (before any window spelling is ever cached) — the
    // day-trunc twin lifts the hour-trunc state through finerGrainState,
    // then rewindow re-keys it to day structs
    val log4 = new RecordingLog
    val dayDF = QueryCacheSession(spark, cfg(log4))
      .run(win("1 day")(spark.read.parquet(work)))
    assertSameRows(flat(dayDF), flat(win("1 day")(eventsFull)), tol = 1e-9)
    assert(log4.messages.exists(_.startsWith("rewindow hit")), log4.messages)
    assert(log4.messages.exists(_.startsWith("regrain hit")), log4.messages)

    // first-ever window('1 hour') spelling: rewindow hit, zero fact rows
    // below the watermark rescanned
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val winDF = QueryCacheSession(spark, cfg(log2))
      .run(win("1 hour")(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      winDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rewindow hit")), log2.messages)
    assert(log2.messages.exists(_.startsWith("cache hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"window spelling scanned ${recs.sum()} fact rows — rewindow rescanned history")
    assertSameRows(flat(winDF), flat(win("1 hour")(eventsFull)), tol = 1e-9)

    // second sighting: direct hit under the window spelling's own fp
    val log3 = new RecordingLog
    QueryCacheSession(spark, cfg(log3))
      .run(win("1 hour")(spark.read.parquet(work))).collect()
    assert(log3.messages.exists(_.startsWith("cache hit")), log3.messages)
    assert(!log3.messages.exists(_.startsWith("rewindow hit")), log3.messages)

    // a duration with no calendar-grain equivalent never rewindows
    val logOdd = new RecordingLog
    val oddDF = QueryCacheSession(spark, cfg(logOdd))
      .run(win("30 minutes")(spark.read.parquet(work)))
    assertSameRows(flat(oddDF), flat(win("30 minutes")(eventsFull)), tol = 1e-9)
    assert(!logOdd.messages.exists(_.startsWith("rewindow hit")), logOdd.messages)

    // WEEK — the shifted-anchor case: date_trunc('week') anchors MONDAY
    // while epoch (1970-01-01) is a Thursday, so the week-equivalent
    // spelling is window(ts, '7 days', '7 days', startTime = '4 days').
    // Composes with regrain like the day case: the week-trunc twin lifts
    // the warm HOUR-trunc state (hour ⊂ week), then rewindow re-keys it.
    def winWeek(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"))
    val logW = new RecordingLog
    val weekDF = QueryCacheSession(spark, cfg(logW))
      .run(winWeek(spark.read.parquet(work)))
    assertSameRows(flat(weekDF), flat(winWeek(eventsFull)), tol = 1e-9)
    assert(logW.messages.exists(_.startsWith("rewindow hit")), logW.messages)
    assert(logW.messages.exists(_.startsWith("regrain hit")), logW.messages)

    // the EPOCH-anchored 7-day window (Thursday buckets) has NO calendar
    // equivalent and must NOT borrow Monday-anchored week-trunc state
    val logT = new RecordingLog
    val thuDF = QueryCacheSession(spark, cfg(logT))
      .run(win("7 days")(spark.read.parquet(work)))
    assertSameRows(flat(thuDF), flat(win("7 days")(eventsFull)), tol = 1e-9)
    assert(!logT.messages.exists(_.startsWith("rewindow hit")), logT.messages)
  }

  test("stream-warmed tumbling state serves a cold hopping query across the batch/stream seam") {
    val (early, late, _) = split()
    val work = tmpDir("rehop-stream")
    val chk = tmpDir("rehop-stream-chk")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    val cfg = QueryCacheConfig(cache, defaultTemporalColumn = "ts", log = log)
    def tum(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def hop(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    // a STREAM keeps the tumbling state fresh (two ticks: initial load,
    // then the appended files — checkpoint resume)
    val warmer = new graft.streaming.CacheWarmer(spark, cfg,
      Seq(() => tum(spark.read.parquet(work))))
    warmer.attach(graft.streaming.CacheWarmer.tickSource(spark, work, "ts"), chk)
      .awaitTermination()
    late.write.mode("append").parquet(work)
    warmer.attach(graft.streaming.CacheWarmer.tickSource(spark, work, "ts"), chk)
      .awaitTermination()

    // the user's first-ever HOPPING query never runs cold: the stream-
    // warmed tumbling state rehops into it (the warmer stamps strict-mode
    // state, so the batch probe runs strict too), and the delta above the
    // stream's high-water mark prunes to zero fact rows
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val hopDF = QueryCacheSession(spark,
        QueryCacheConfig(cache, defaultTemporalColumn = "ts", log = log2)
          .withStrictUpperBound)
      .run(hop(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      hopDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rehop hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"hopping query scanned ${recs.sum()} fact rows after stream warming")
    assertSameRows(
      hopDF.select(col("w.start"), col("cnt"), col("sum_value")),
      hop(spark.read.parquet(work))
        .select(col("w.start"), col("cnt"), col("sum_value")), tol = 1e-9)
  }

  test("stream-warmed date_trunc state serves a cold window-spelled query across the seam") {
    val (early, late, _) = split()
    val work = tmpDir("rewindow-stream")
    val chk = tmpDir("rewindow-stream-chk")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    val cfg = QueryCacheConfig(cache, defaultTemporalColumn = "ts", log = log)
    def dtq(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def winq(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    // a STREAM keeps the SQL-spelled hourly state fresh (two ticks:
    // initial load, then the appended files — checkpoint resume)
    val warmer = new graft.streaming.CacheWarmer(spark, cfg,
      Seq(() => dtq(spark.read.parquet(work))))
    warmer.attach(graft.streaming.CacheWarmer.tickSource(spark, work, "ts"), chk)
      .awaitTermination()
    late.write.mode("append").parquet(work)
    warmer.attach(graft.streaming.CacheWarmer.tickSource(spark, work, "ts"), chk)
      .awaitTermination()

    // the first-ever STREAMING-spelled panel never runs cold: the
    // stream-warmed trunc state re-keys into it and the delta above the
    // stream's high-water mark prunes to zero fact rows
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    val log2 = new RecordingLog
    val winDF = QueryCacheSession(spark,
        QueryCacheConfig(cache, defaultTemporalColumn = "ts", log = log2)
          .withStrictUpperBound)
      .run(winq(spark.read.parquet(work)))
    spark.sparkContext.addSparkListener(listener)
    try {
      winDF.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log2.messages.exists(_.startsWith("rewindow hit")), log2.messages)
    assert(recs.sum() == 0L,
      s"window-spelled query scanned ${recs.sum()} fact rows after stream warming")
    assertSameRows(
      winDF.select(col("w.start"), col("cnt"), col("sum_value")),
      winq(spark.read.parquet(work))
        .select(col("w.start"), col("cnt"), col("sum_value")), tol = 1e-9)
  }

  test("rehop composes with refilter: hopping dim slice from warm tumbling drill-down") {
    val (early, late, splitUs) = split()
    val work = tmpDir("rehop-composed")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def hopSlice(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") === "click")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type")
    // ONLY the tumbling (15m, event_type) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // cold hopping slice: rehop synthesizes the tumbling twin, refilter
    // strips the dim conjunct and slices the drill-down state
    val log = new RecordingLog
    val df = QueryCacheSession(spark, cfg(log))
      .run(hopSlice(spark.read.parquet(work)))
    assertSameRows(df.select(col("w.start"), col("cnt"), col("sum_value")),
      hopSlice(eventsFull).select(col("w.start"), col("cnt"), col("sum_value")),
      tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rehop hit")), log.messages)
    assert(log.messages.exists(_.startsWith("refilter hit")), log.messages)
  }

  /** warm ONLY `inner` (cold run, append, warm run) on a fresh copy of the
    * early events, then run `outer` cold through the same cache: returns
    * (outer answer, its log) */
  private def composedProbe(tag: String,
      cfg: (RecordingLog, Option[Long]) => QueryCacheConfig)(
      inner: DataFrame => DataFrame, outer: DataFrame => DataFrame)
      : (DataFrame, RecordingLog) = {
    val (early, late, splitUs) = split()
    val work = tmpDir(tag)
    early.write.mode("overwrite").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, Some(splitUs)))
      .run(inner(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg(new RecordingLog, None))
      .run(inner(spark.read.parquet(work))).collect()
    val log = new RecordingLog
    (QueryCacheSession(spark, cfg(log, None)).run(outer(spark.read.parquet(work))),
      log)
  }

  test("composed subsumption: rejoin → remeasure, dim breakdown of a subset measure from warm fact-keyed superset state") {
    val cache = new MemoryQueryCache()
    def factQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def joinQ(df: DataFrame) = df.filter(col("value") > 1)
      .join(Tables.customer(spark, sf0001), df("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val (df, log) = composedProbe("compose-rejoin-remeasure", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l).withStaticDimensions("customer"))(
      factQ, joinQ)
    assertSameRows(df, joinQ(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rejoin hit")), log.messages)
    assert(log.messages.exists(_.startsWith("remeasure hit")), log.messages)
  }

  test("composed subsumption: regroup → refilter, a sliced rollup from the warm unfiltered drill-down") {
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def rollSlice(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") === "click")
      .rollup(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    val (df, log) = composedProbe("compose-regroup-refilter", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l).withRedimDimensions("event_type"))(
      drill, rollSlice)
    assertSameRows(df, rollSlice(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("regroup hit")), log.messages)
    assert(log.messages.exists(_.startsWith("refilter hit")), log.messages)
  }

  test("composed subsumption: retumble → redim, a coarse window roll-up from the warm finer tumbling drill-down") {
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def hourRoll(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"))
    val (df, log) = composedProbe("compose-retumble-redim", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l).withRedimDimensions("event_type"))(
      drill, hourRoll)
    assertSameRows(flat(df), flat(hourRoll(eventsFull)), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("retumble hit")), log.messages)
    assert(log.messages.exists(_.startsWith("redim hit")), log.messages)
  }

  test("composed subsumption: rewindow → regrain, an hour window from warm minute-trunc state") {
    val cache = new MemoryQueryCache()
    def minuteTrunc(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("minute", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def hourWin(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"))
    val (df, log) = composedProbe("compose-rewindow-regrain", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l))(minuteTrunc, hourWin)
    assertSameRows(flat(df), flat(hourWin(eventsFull)), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rewindow hit")), log.messages)
    assert(log.messages.exists(_.startsWith("regrain hit")), log.messages)
  }

  test("composed subsumption: redim → rerange, a bounded window from the warm unbounded trunc drill-down") {
    // the query is a window, so the top-level rerange does not apply; its
    // rewindow twin (a bounded date_trunc roll-up) reaches the warm
    // unbounded drill-down through redim, then rerange
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def winBounded(df: DataFrame) = df
      .filter(col("value") > 1 &&
        col("ts") >= "2024-01-08 00:00:00" && col("ts") < "2024-01-15 00:00:00")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def flat(df: DataFrame) = df.select(col("w.start"), col("w.end"),
      col("cnt"), col("sum_value"))
    val (df, log) = composedProbe("compose-redim-rerange", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l).withRedimDimensions("event_type"))(
      drill, winBounded)
    assertSameRows(flat(df), flat(winBounded(eventsFull)), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("redim hit")), log.messages)
    assert(log.messages.exists(_.startsWith("rerange hit")), log.messages)
  }

  test("composed subsumption: rerange → remeasure, a window slice of a subset measure from warm unbounded superset state") {
    val cache = new MemoryQueryCache()
    def wide(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def narrowWin(df: DataFrame) = df
      .filter(col("value") > 1 &&
        col("ts") >= "2024-01-08 00:00:00" && col("ts") < "2024-01-15 00:00:00")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val (df, log) = composedProbe("compose-rerange-remeasure", (l, now) =>
      QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = now, log = l))(wide, narrowWin)
    assertSameRows(df, narrowWin(eventsFull), tol = 1e-9)
    assert(log.messages.exists(_.startsWith("rerange hit")), log.messages)
    assert(log.messages.exists(_.startsWith("remeasure hit")), log.messages)
  }

  test("recursive subsumption: two extra dims merge away; double slice strips both") {
    val (early, late, splitUs) = split()
    val work = tmpDir("redim-recursive")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def withSeg(df: DataFrame) = df
      .withColumn("seg", (col("user_id") % 3).cast("string"))
    def drill2(df: DataFrame) = withSeg(df).filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"), col("seg"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def rollAll(df: DataFrame) = withSeg(df).filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def slice2(df: DataFrame) = withSeg(df)
      .filter(col("value") > 1 && col("event_type") === "click" &&
        col("seg") === "1")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
      .withRedimDimensions("event_type", "seg")
    // ONLY the two-dim (hour, event_type, seg) drill-down is ever warmed
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill2(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill2(spark.read.parquet(work))).collect()

    // hour-only roll-up: both keys merge away through the recursive probe
    val log = new RecordingLog
    val rollDF = QueryCacheSession(spark, cfg(log))
      .run(rollAll(spark.read.parquet(work)))
    assertSameRows(rollDF, rollAll(eventsFull), tol = 1e-9)
    assert(log.messages.count(_.startsWith("redim hit")) == 2, log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)

    // double slice: both conjuncts strip, both keys slice away
    val logS = new RecordingLog
    val sliceDF = QueryCacheSession(spark, cfg(logS))
      .run(slice2(spark.read.parquet(work)))
    assertSameRows(sliceDF, slice2(eventsFull), tol = 1e-9)
    assert(logS.messages.count(_.startsWith("refilter hit")) == 2, logS.messages)
    assert(logS.messages.exists(_.startsWith("cache hit")), logS.messages)
  }

  test("refilter isolation: undeclared dim, non-equality predicate, strict crossover") {
    val (early, late, splitUs) = split()
    val work = tmpDir("refilter-neg")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def slice(df: DataFrame) = df
      .filter(col("value") > 1 && col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def cfg(log: RecordingLog = new RecordingLog, nowUs: Option[Long] = None,
        dims: Boolean = true, strict: Boolean = false) = {
      val base = QueryCacheConfig(cache, defaultTemporalColumn = "ts",
        overrideNowMicros = nowUs, log = log, strictUpperBound = strict)
      if (dims) base.withRedimDimensions("event_type") else base
    }
    QueryCacheSession(spark, cfg(nowUs = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    QueryCacheSession(spark, cfg())
      .run(drill(spark.read.parquet(work))).collect()

    // event_type NOT declared a dimension: plain miss
    val logU = new RecordingLog
    QueryCacheSession(spark, cfg(logU, dims = false))
      .run(slice(spark.read.parquet(work))).collect()
    assert(!logU.messages.exists(_.startsWith("refilter hit")), logU.messages)
    assert(logU.messages.exists(_.startsWith("cache miss")), logU.messages)

    // non-equality predicate on the dim: no refilter candidate
    val logR = new RecordingLog
    QueryCacheSession(spark, cfg(logR))
      .run(spark.read.parquet(work)
        .filter(col("value") > 1 && col("event_type") > "a")
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value")))
      .collect()
    assert(!logR.messages.exists(_.startsWith("refilter hit")), logR.messages)
    assert(logR.messages.exists(_.startsWith("cache miss")), logR.messages)

    // strict-mode slice must not replay non-strict drill-down state
    val logS = new RecordingLog
    QueryCacheSession(spark, cfg(logS, strict = true))
      .run(slice(spark.read.parquet(work))).collect()
    assert(!logS.messages.exists(_.startsWith("refilter hit")), logS.messages)
    assert(logS.messages.exists(_.startsWith("cache miss")), logS.messages)
  }

  test("redim isolation: strict mode, differing aggregates, undeclared dims") {
    val (early, _, splitUs) = split()
    val work = tmpDir("redim-neg")
    early.write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def rollup(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    // warm (hour, event_type) state, non-strict
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs))
      .withRedimDimensions("event_type"))
      .run(drill(spark.read.parquet(work))).collect()

    // STRICT-mode roll-up: the superset twin fingerprint carries :s1 —
    // non-strict drill-down state must not answer it
    val logS = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logS)
      .withRedimDimensions("event_type").withStrictUpperBound)
      .run(rollup(spark.read.parquet(work))).collect()
    assert(!logS.messages.exists(_.startsWith("redim hit")), logS.messages)
    assert(logS.messages.exists(_.startsWith("cache miss")), logS.messages)

    // different aggregate list: twin fingerprint mismatch, plain miss
    val logA = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logA)
      .withRedimDimensions("event_type"))
      .run(spark.read.parquet(work).filter(col("value") > 1)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), max("value").as("max_value")))
      .collect()
    assert(!logA.messages.exists(_.startsWith("redim hit")), logA.messages)
    assert(logA.messages.exists(_.startsWith("cache miss")), logA.messages)

    // control: the declared-dim roll-up DOES redim (before any run can
    // store roll-up state directly)
    val logC = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", log = logC)
      .withRedimDimensions("event_type"))
      .run(rollup(spark.read.parquet(work))).collect()
    assert(logC.messages.exists(_.startsWith("redim hit")), logC.messages)

    // feature not opted in: warm drill state present on a FRESH cache
    // (the control above stored roll-up state in the shared one), but
    // with no declared dims the probe never runs — plain miss
    val cache2 = new MemoryQueryCache()
    QueryCacheSession(spark, QueryCacheConfig(cache2,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    val logO = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache2,
        defaultTemporalColumn = "ts", log = logO))
      .run(rollup(spark.read.parquet(work))).collect()
    assert(!logO.messages.exists(_.startsWith("redim hit")), logO.messages)
    assert(logO.messages.exists(_.startsWith("cache miss")), logO.messages)
  }

  test("regrain and redim subsume through a durable cache across sessions") {
    import graft.cache.ParquetQueryCache
    val (early, late, splitUs) = split()
    val work = tmpDir("subsume-durable")
    early.write.mode("overwrite").parquet(work)
    val root = tmpDir("subsume-durable-cache")
    // two plan families so the subsumption probes can't direct-hit:
    // (cnt, sum) exercises regrain, (cnt, min) exercises redim
    def hourQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def dayQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def drill(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_value"))
    def roll(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_value"))
    // "session 1": warm the hour-grain and drill-down states on disk
    val c1 = new ParquetQueryCache(root)
    QueryCacheSession(spark, QueryCacheConfig(c1,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      .run(hourQ(spark.read.parquet(work))).collect()
    QueryCacheSession(spark, QueryCacheConfig(c1,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      .run(drill(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)

    // "session 2": FRESH cache instances over the same root — the
    // meta/schema round-trip is the path a memory cache never exercises
    val logG = new RecordingLog
    val day = QueryCacheSession(spark, QueryCacheConfig(
        new ParquetQueryCache(root), defaultTemporalColumn = "ts", log = logG))
      .run(dayQ(spark.read.parquet(work)))
    assertSameRows(day, dayQ(eventsFull), tol = 1e-9)
    assert(logG.messages.exists(_.startsWith("regrain hit")), logG.messages)

    val logR = new RecordingLog
    val rollDF = QueryCacheSession(spark, QueryCacheConfig(
        new ParquetQueryCache(root), defaultTemporalColumn = "ts", log = logR)
      .withRedimDimensions("event_type"))
      .run(roll(spark.read.parquet(work)))
    assertSameRows(rollDF, roll(eventsFull), tol = 1e-9)
    assert(logR.messages.exists(_.startsWith("redim hit")), logR.messages)

    // measure subsumption from a FRESH handle: the probe has no
    // in-process index rows, so the match comes entirely from the
    // persisted meta (baseFp + measure descriptors + fingerprint)
    def cntOnly(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val logM = new RecordingLog
    val cntDF = QueryCacheSession(spark, QueryCacheConfig(
        new ParquetQueryCache(root), defaultTemporalColumn = "ts", log = logM))
      .run(cntOnly(spark.read.parquet(work)))
    assertSameRows(cntDF, cntOnly(eventsFull), tol = 1e-9)
    assert(logM.messages.exists(_.startsWith("remeasure hit")), logM.messages)

    // join subsumption from a fresh handle: warm the fact-keyed state on
    // disk, then answer the dim breakdown through the meta round-trip
    def factQ(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    def joinQ(df: DataFrame) = df.filter(col("value") > 1)
      .join(Tables.customer(spark, sf0001), df("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    QueryCacheSession(spark, QueryCacheConfig(new ParquetQueryCache(root),
        defaultTemporalColumn = "ts").withStaticDimensions("customer"))
      .run(factQ(spark.read.parquet(work))).collect()
    val logJ = new RecordingLog
    val joinDF = QueryCacheSession(spark, QueryCacheConfig(
        new ParquetQueryCache(root), defaultTemporalColumn = "ts", log = logJ)
      .withStaticDimensions("customer"))
      .run(joinQ(spark.read.parquet(work)))
    assertSameRows(joinDF, joinQ(eventsFull), tol = 1e-9)
    assert(logJ.messages.exists(_.startsWith("rejoin hit")), logJ.messages)
  }

  test("regrain bails when the grain literal appears outside the group key") {
    // grain-templated queries where the template literal ALSO instantiates
    // a measure or a filter: the finer twin computed something semantically
    // different at those sites, so replaying it re-truncated would change
    // answers — must fall back to a plain miss (r8 ADVICE high).
    val (early, late, splitUs) = split()

    // (a) grain inside an aggregate measure: max(date_trunc(g, ts))
    locally {
      val work = tmpDir("regrain-measure")
      early.write.mode("overwrite").parquet(work)
      val cache = new MemoryQueryCache()
      def q(g: String)(df: DataFrame) = df.filter(col("value") > 1)
        .groupBy(date_trunc(g, col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          max(date_trunc(g, col("ts"))).as("last_bucket"))
      QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
        .run(q("hour")(spark.read.parquet(work))).collect()
      late.write.mode("append").parquet(work)
      QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts"))
        .run(q("hour")(spark.read.parquet(work))).collect()
      // warm hour twin exists; the day query must NOT regrain from it —
      // its hour state's max(date_trunc(hour, ts)) is not a day max
      val log = new RecordingLog
      val dayDF = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", log = log))
        .run(q("day")(spark.read.parquet(work)))
      assertSameRows(dayDF, q("day")(eventsFull))
      assert(!log.messages.exists(_.startsWith("regrain hit")), log.messages)
      assert(log.messages.exists(_.startsWith("cache miss")), log.messages)
    }

    // (b) grain inside a filter below the aggregate
    locally {
      val work = tmpDir("regrain-filter")
      early.write.mode("overwrite").parquet(work)
      val cache = new MemoryQueryCache()
      val cut = timestamp_micros(lit(0L))
      def q(g: String)(df: DataFrame) = df
        .filter(date_trunc(g, col("ts")) >= cut)
        .groupBy(date_trunc(g, col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
        .run(q("hour")(spark.read.parquet(work))).collect()
      late.write.mode("append").parquet(work)
      QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts"))
        .run(q("hour")(spark.read.parquet(work))).collect()
      val log = new RecordingLog
      val dayDF = QueryCacheSession(spark, QueryCacheConfig(cache,
          defaultTemporalColumn = "ts", log = log))
        .run(q("day")(spark.read.parquet(work)))
      assertSameRows(dayDF, q("day")(eventsFull))
      assert(!log.messages.exists(_.startsWith("regrain hit")), log.messages)
    }
  }

  test("compress_runs: identity below threshold, bounded uniform bins above") {
    import graft.functions.functions.{compress_runs, runs_from_values}
    val s = spark
    import s.implicits._
    // below threshold: the exact runs pass through untouched
    val small = spark.range(100)
      .agg(compress_runs(
        runs_from_values(collect_list(col("id").cast("double"))),
        100, 8).as("r"))
      .select(size(col("r"))).first().getInt(0)
    assert(small == 100, s"pass-through resized to $small")
    // above: 10k distinct values -> ~16 bins, weights <= cap, means
    // sorted ascending, total weight preserved
    val bins = spark.range(10000)
      .agg(compress_runs(
        runs_from_values(collect_list(col("id").cast("double"))),
        100, 16).as("r"))
      .select(explode(col("r")).as("b"))
      .select(col("b.v"), col("b.c")).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    val cap = (10000 + 15) / 16
    assert(bins.length <= 17, s"${bins.length} bins")
    assert(bins.map(_._2).sum == 10000L)
    assert(bins.forall(_._2 <= cap), bins.mkString(","))
    assert(bins.map(_._1).sliding(2).forall(p => p.head < p.last),
      "bin means not sorted")
  }

  test("high-cardinality percentile: state capped, estimates rank-bounded") {
    val s = spark
    import s.implicits._
    // 12000 rows, all-distinct values, over two days: distinct count is
    // far past PercentileSketchThreshold, so the stored state must be
    // the compressed digest, not 12000 runs
    val n = 12000
    val base = spark.range(n).select(
      timestamp_micros(lit(1700000000000000L) + col("id") * 10000000L).as("ts"),
      (col("id").cast("double") * 1.0001 + 2.0).as("value"))
    val work = tmpDir("psketch-state")
    val splitUs = 1700000000000000L + (n * 6L / 10) * 10000000L
    base.filter(col("ts") < timestamp_micros(lit(splitUs)))
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .agg(count(lit(1)).as("cnt"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
    val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs),
      log = log))
    cold.run(q(spark.read.parquet(work))).collect()
    base.filter(col("ts") >= timestamp_micros(lit(splitUs)))
      .write.mode("append").parquet(work)
    val warm = QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    val got = warm.run(q(spark.read.parquet(work))).first()
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)
    // stored state is the digest: well under the raw distinct count
    val fp = log.history.map(_.fingerprint).distinct
      .find(f => cache.get(f).isDefined).get
    val stateRow = cache.get(fp).get.read(spark).first()
    val stateBins = stateRow.schema.fieldNames.zipWithIndex.collectFirst {
      case (nm, i) if nm.endsWith("_vcnt") => stateRow.getSeq[Any](i).size
    }.get
    assert(stateBins <= 2 * graft.rewrite.Decompose.PercentileSketchCentroids,
      s"state holds $stateBins runs — sketch never engaged")
    // estimates stay inside the 2% rank envelope of the exact answer
    val exact = base.filter(col("value") > 1)
      .select(col("value")).collect().map(_.getDouble(0)).sorted
    assert(got.getLong(0) == exact.length)
    def rankOf(v: Double): Double =
      exact.count(_ <= v).toDouble / exact.length
    assert(math.abs(rankOf(got.getDouble(1)) - 0.5) <= 0.02,
      s"p50 rank ${rankOf(got.getDouble(1))}")
    assert(math.abs(rankOf(got.getDouble(2)) - 0.9) <= 0.02,
      s"p90 rank ${rankOf(got.getDouble(2))}")
  }

  test("factorized join: FILTER-clause measures and decimal avg") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factfilt-a")
    val workB = tmpDir("factfilt-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def q(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
      a.join(bb, a("user_id") === bb("user_id"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"),
          // count(*) FILTER: reference-free measure takes the filter's side
          expr("count(*) FILTER (WHERE value > 50)").as("n_big"),
          expr("sum(value) FILTER (WHERE value > 20)").as("sum_mid"),
          // filtered min on the OTHER side — multiplicity-free
          expr("min(pvalue) FILTER (WHERE pvalue > 10)").as("min_bigp"),
          // decimal avg: exact decimal sums in the twin, division cast
          // back to Spark's decimal avg type in the combine
          avg(a("value").cast("decimal(12,4)")).as("avg_click"))
    }
    def vanilla = q(spark.read.parquet(workA), spark.read.parquet(workB))
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)

    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB))).collect()
    assert(log1.messages.exists(_.startsWith("factorized join: answered")),
      log1.messages)
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val warmDF = QueryCacheSession(spark, cfg(log2))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(warmDF, vanilla)
    assert(log2.messages.exists(_.startsWith("factorized join: answered")),
      log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)

    // guardrail: FILTER on the null-extended side of an outer join bails
    // (vanilla evaluates the predicate AFTER null-extension — an IS NULL
    // shape would match null-extended rows the twin never saw)
    def qOuter(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
      a.join(bb, a("user_id") === bb("user_id"), "left_outer")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(expr("count(*) FILTER (WHERE pvalue IS NULL)").as("n_unmatched"))
    }
    val logO = new RecordingLog
    val outerDF = QueryCacheSession(spark, cfg(logO))
      .run(qOuter(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(!logO.messages.exists(_.startsWith("factorized join: answered")),
      logO.messages)
    assertSameRows(outerDF,
      qOuter(spark.read.parquet(workA), spark.read.parquet(workB)))

    // CROSS-side FILTER (predicate on the measure's opposite side): the
    // predicate's side carries a filtered-multiplicity column and the
    // combine weighs/gates by it — sums scale by fn, min/max qualify
    // where fn > 0, count(DISTINCT) unions sets of fn>0 keys
    def qCross(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
        .withColumnRenamed("user_id", "puid")
      a.join(bb, a("user_id") === bb("puid"), "inner")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(expr("sum(value) FILTER (WHERE pvalue > 10)").as("s"),
          expr("count(value) FILTER (WHERE pvalue > 10)").as("c"),
          expr("min(value) FILTER (WHERE pvalue > 50)").as("mn"),
          expr("avg(value) FILTER (WHERE pvalue > 10)").as("av"),
          expr("count(DISTINCT user_id) FILTER (WHERE pvalue > 50)").as("du"))
    }
    val logX = new RecordingLog
    val crossDF = QueryCacheSession(spark, cfg(logX))
      .run(qCross(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(logX.messages.exists(_.startsWith("factorized join: answered")),
      logX.messages)
    assertSameRows(crossDF,
      qCross(spark.read.parquet(workA), spark.read.parquet(workB)))

    // a cross-side FILTER over an OUTER join factorizes when the
    // predicate is provably null-intolerant: a missing-partner key has
    // fn IS NULL, so every fn gate skips it — matching vanilla, whose
    // null-extended rows cannot pass `pvalue > 10` either
    def qCrossOuter(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
      a.join(bb, a("user_id") === bb("user_id"), "left_outer")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(expr("sum(value) FILTER (WHERE pvalue > 10)").as("s"))
    }
    val logXO = new RecordingLog
    val crossOuterDF = QueryCacheSession(spark, cfg(logXO))
      .run(qCrossOuter(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(logXO.messages.exists(_.startsWith("factorized join: answered")),
      logXO.messages)
    assertSameRows(crossOuterDF,
      qCrossOuter(spark.read.parquet(workA), spark.read.parquet(workB)))
  }

  test("factorized join: FILTER clauses over outer joins") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factfiltout-a")
    val workB = tmpDir("factfiltout-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    // LEFT OUTER, filters in BOTH directions: cross-side predicates on
    // the null-extended B side (proven null-intolerant — fn NULL/0 keys
    // contribute nothing, like vanilla's failed predicate), measures on
    // the null-extended side gated by a preserved-side predicate, and a
    // count(*) FILTER on each side
    def qLeft(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
        .withColumnRenamed("user_id", "puid")
      a.join(bb, a("user_id") === bb("puid"), "left_outer")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"),
          expr("sum(value) FILTER (WHERE pvalue > 10)").as("s_cross"),
          expr("count(value) FILTER (WHERE pvalue > 10)").as("c_cross"),
          expr("min(value) FILTER (WHERE pvalue > 50)").as("mn_cross"),
          expr("avg(value) FILTER (WHERE pvalue > 10)").as("av_cross"),
          expr("count(DISTINCT user_id) FILTER (WHERE pvalue > 50)")
            .as("du_cross"),
          expr("sum(pvalue) FILTER (WHERE value > 20)").as("s_rev"),
          expr("max(pvalue) FILTER (WHERE value > 20)").as("mx_rev"),
          // null-ANNIHILATING measure expression on the null-extended
          // side: CAST(NULL) is NULL, so state-grain null-extension
          // equals row-grain — proven by null substitution, not bare-attr
          expr("sum(CAST(pvalue AS DECIMAL(18,4))) FILTER (WHERE value > 20)")
            .as("s_rev_dec"),
          expr("count(*) FILTER (WHERE value > 50)").as("n_a"),
          expr("count(*) FILTER (WHERE pvalue > 50)").as("n_b"))
    }
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(qLeft(spark.read.parquet(workA), spark.read.parquet(workB)))
      .collect()
    assert(log1.messages.exists(_.startsWith("factorized join: answered")),
      log1.messages)
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val warmDF = QueryCacheSession(spark, cfg(log2))
      .run(qLeft(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(warmDF,
      qLeft(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(log2.messages.exists(_.startsWith("factorized join: answered")),
      log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2, log2.messages)

    // FULL OUTER: NULL-faithful grouping/measures (state-grain
    // null-extension must equal row-grain — date_trunc(NULL) is NULL, so
    // the expression group is provable), filters on both (now
    // both-nullable) sides — each requires the null-intolerance proof
    def qFull(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
        .withColumnRenamed("user_id", "puid")
      a.join(bb, a("user_id") === bb("puid"), "full_outer")
        .groupBy(date_trunc("day", a("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          expr("sum(value) FILTER (WHERE pvalue > 10)").as("s_cross"),
          expr("min(pvalue) FILTER (WHERE value > 20)").as("mn_rev"),
          expr("count(*) FILTER (WHERE value > 50)").as("n_a"))
    }
    val logF = new RecordingLog
    val fullDF = QueryCacheSession(spark, cfg(logF))
      .run(qFull(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(logF.messages.exists(_.startsWith("factorized join: answered")),
      logF.messages)
    assertSameRows(fullDF,
      qFull(spark.read.parquet(workA), spark.read.parquet(workB)))

    // guardrail: an IS-NULL-shaped cross-side predicate on the
    // null-extended side is NOT null-intolerant — vanilla counts
    // null-extended rows through it, the twins never see them — bail
    def qIsNull(a: DataFrame, b: DataFrame) = {
      val bb = b.withColumnRenamed("value", "pvalue")
        .withColumnRenamed("user_id", "puid")
      a.join(bb, a("user_id") === bb("puid"), "left_outer")
        .groupBy(date_trunc("hour", a("ts")).as("hour"))
        .agg(expr("sum(value) FILTER (WHERE pvalue IS NULL)").as("s"))
    }
    val logN = new RecordingLog
    val isNullDF = QueryCacheSession(spark, cfg(logN))
      .run(qIsNull(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(!logN.messages.exists(_.startsWith("factorized join: answered")),
      logN.messages)
    assertSameRows(isNullDF,
      qIsNull(spark.read.parquet(workA), spark.read.parquet(workB)))
  }

  test("factorized join: null-rejecting WHERE demotes the outer join (EliminateOuterJoin)") {
    val (early, late, splitUs) = split()
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("factdemote-a")
    val workB = tmpDir("factdemote-b")
    part(early, "click").write.mode("overwrite").parquet(workA)
    part(early, "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    def cfg(log: RecordingLog = new RecordingLog,
        nowUs: Option[Long] = None) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = nowUs, log = log)
    def base(a: DataFrame, b: DataFrame, joinType: String) = {
      val bb = b.withColumnRenamed("value", "pvalue")
        .withColumnRenamed("user_id", "puid")
        .withColumnRenamed("ts", "pts")
      a.join(bb, a("user_id") === bb("puid"), joinType)
    }
    def measure(df: DataFrame) = df
      .filter(col("pvalue") > 10) // null-REJECTING conjunct on the B side
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"),
        min(col("pvalue")).as("mp"))
    // the INNER spelling warms the twins; the LEFT-OUTER + WHERE spelling
    // is plan-equivalent (the conjunct drops every null-extended row) and
    // must DEMOTE to the same twins — warm hit on first sighting
    def qInner(a: DataFrame, b: DataFrame) = measure(base(a, b, "inner"))
    def qLeft(a: DataFrame, b: DataFrame) = measure(base(a, b, "left_outer"))
    val log1 = new RecordingLog
    QueryCacheSession(spark, cfg(log1, Some(splitUs)))
      .run(qInner(spark.read.parquet(workA), spark.read.parquet(workB)))
      .collect()
    assert(log1.messages.exists(_.startsWith("factorized join: answered")),
      log1.messages)
    part(late, "click").write.mode("append").parquet(workA)
    part(late, "purchase").write.mode("append").parquet(workB)
    val log2 = new RecordingLog
    val leftDF = QueryCacheSession(spark, cfg(log2))
      .run(qLeft(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(log2.messages.exists(_.contains("demoted to INNER")), log2.messages)
    assert(log2.messages.count(_.startsWith("cache hit")) == 2,
      s"demoted spelling must hit the inner spelling's twins: ${log2.messages}")
    assertSameRows(leftDF,
      qLeft(spark.read.parquet(workA), spark.read.parquet(workB)))

    // FULL OUTER with the same B-side conjunct demotes to RIGHT OUTER:
    // the conjunct drops every row where B is null-extended — exactly the
    // LEFT-only rows — so the left side loses its preservation while the
    // A side stays null-extendable (bare-attr rules still apply to A
    // measures).
    def qFull(a: DataFrame, b: DataFrame) = base(a, b, "full_outer")
      .filter(col("pvalue") > 10)
      .groupBy(col("puid"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    val logF = new RecordingLog
    val fullDF = QueryCacheSession(spark, cfg(logF))
      .run(qFull(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(logF.messages.exists(_.contains("demoted to RIGHT OUTER")),
      logF.messages)
    assert(logF.messages.exists(_.startsWith("factorized join: answered")),
      logF.messages)
    assertSameRows(fullDF,
      qFull(spark.read.parquet(workA), spark.read.parquet(workB)))

    // a null-TOLERANT conjunct (coalesce guard: TRUE on null-extended
    // rows) must NOT demote — and then bails as a filter on the
    // null-extended side, running vanilla but correct
    def qTol(a: DataFrame, b: DataFrame) = base(a, b, "left_outer")
      .filter(coalesce(col("pvalue"), lit(11.0)) > 10)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
    val logT = new RecordingLog
    val tolDF = QueryCacheSession(spark, cfg(logT))
      .run(qTol(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(!logT.messages.exists(_.contains("demoted")), logT.messages)
    assert(!logT.messages.exists(_.startsWith("factorized join: answered")),
      logT.messages)
    assertSameRows(tolDF,
      qTol(spark.read.parquet(workA), spark.read.parquet(workB)))
  }

  test("session windows: warm equals vanilla, open frontier chains across the seam") {
    // session_window grouping flows through the generic machinery as an
    // opaque bucket key (like tumbling structs) — with one crucial twist:
    // the group attribute carries spark.sessionWindow metadata, so every
    // re-grouping (partial state, warm union merge) plans Spark's own
    // MergingSessions, which merges OVERLAPPING session rows instead of
    // equal keys. Session merge is associative over interval-tagged
    // partials (transitive interval overlap = the row-level gap chaining),
    // so state-sessions ∪ delta-provisional-rows re-merge EXACTLY —
    // including a session left open at the watermark that new rows extend.
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(session_window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max("value").as("max_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("event_type"), col("cnt"), col("sum_value"), col("max_value"))
    val (warmDF, log) = coldAppendWarm("session")(q)
    assertSameRows(warmDF, q(eventsFull))
    assert(log.messages.count(_.startsWith("cache miss")) == 1, log.messages)
    assert(log.messages.count(_.startsWith("cache hit")) == 1, log.messages)

    // frontier proof with a WIDE gap (12h ≫ the ~3.6h median event
    // spacing): most sessions chain, so the session left open at the
    // watermark is guaranteed to absorb delta rows — if equal-key
    // grouping ever replaced MergingSessions here, the straddling
    // session would come back split in two and the compare would fail.
    // Also exercises the DURABLE store: the sessionWindow metadata must
    // survive the parquet state round-trip for the warm merge to plan
    // MergingSessions at all.
    def qWide(df: DataFrame) = df
      .groupBy(session_window(col("ts"), "12 hours"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("cnt"), col("min_value"))
    val (early, late, splitUs) = split()
    val work = tmpDir("session-wide")
    early.write.mode("overwrite").parquet(work)
    val cacheDir = tmpDir("session-wide-cache")
    val cache = new graft.cache.ParquetQueryCache(cacheDir)
    val log2 = new RecordingLog
    QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs),
      log = log2)).run(qWide(spark.read.parquet(work))).collect()
    late.write.mode("append").parquet(work)
    // fresh durable handle: state must round-trip through parquet
    val warm2 = QueryCacheSession(spark, QueryCacheConfig(
      new graft.cache.ParquetQueryCache(cacheDir),
      defaultTemporalColumn = "ts", log = log2))
      .run(qWide(spark.read.parquet(work)))
    assertSameRows(warm2, qWide(eventsFull))
    assert(log2.messages.count(_.startsWith("cache hit")) == 1, log2.messages)
    // the straddling session really exists: some cold-state session must
    // have been extended (its end grew past the split watermark)
    val straddle = qWide(eventsFull).filter(
      col("session_start") < timestamp_micros(lit(splitUs)) &&
        col("session_end") > timestamp_micros(lit(splitUs))).count()
    assert(straddle > 0, "no session straddles the split — test is vacuous")

    // scan bound: a third run with NO new appends merges purely from
    // state — the delta (ts >= wm, wm past max ts) prunes to ZERO fact
    // rows via parquet stats, proving session replay never rescans
    // history (the state itself reads from the durable cache's parquet,
    // which is session-count-sized, not fact-sized)
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) t.taskMetrics.inputMetrics match {
          case m => recs.add(m.recordsRead)
        }
    }
    val stateRows = qWide(eventsFull).count() // sessions == state rows
    val log3 = new RecordingLog
    spark.sparkContext.addSparkListener(listener)
    try {
      QueryCacheSession(spark, QueryCacheConfig(
        new graft.cache.ParquetQueryCache(cacheDir),
        defaultTemporalColumn = "ts", log = log3))
        .run(qWide(spark.read.parquet(work))).collect()
      Thread.sleep(1000) // listener bus drains asynchronously
    } finally spark.sparkContext.removeSparkListener(listener)
    // bound = a few state-sized reads (the durable state parquet is read
    // by the merge union, the replay, and a possible guard pass) — the
    // fact table contributes ZERO rows (delta pruned above max ts)
    assert(recs.sum() <= 4 * stateRows,
      s"no-append session warm run read ${recs.sum()} rows " +
        s"(state is $stateRows sessions) — it rescanned fact history; " +
        s"log: ${log3.messages}")
  }

  test("late re-scan band: late rows fold in, warm scan is band-bounded") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    // every third event in the 2 days below the split arrives LATE —
    // held out of the cold write, appended together with the fresh rows
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband")
    graft.sources.Layouts.writeTimeSeriesPartitioned(
      ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate), work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withTemporalPartitioning("ts_day")
      .withLateRescanBand(java.time.Duration.ofDays(3))
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max("value").as("max_value"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    graft.sources.Layouts.writeTimeSeriesPartitioned(
      ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate),
      work, mode = "append")
    // the warm scan may read AT MOST the band + appended rows: effective
    // watermark = UTC day floor of (wm − 3d); the day-partitioned layout
    // plus the derived ts_day conjunct makes the bound directory-exact
    val floorUs = (splitUs - 3 * dayUs) / dayUs * dayUs
    val bandBound = spark.read.parquet(work)
      .filter(col("ts") >= timestamp_micros(lit(floorUs))).count()
    val total = spark.read.parquet(work).count()
    val recs = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    // the warm fact scan runs INSIDE run() (merge + driver put), so the
    // listener brackets the whole warm cycle, not just the replay collect
    spark.sparkContext.addSparkListener(listener)
    val warmDF = try {
      val df = QueryCacheSession(spark, cfg(None))
        .run(q(spark.read.parquet(work)))
      df.collect()
      Thread.sleep(1000) // listener bus drains asynchronously
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(log.messages.exists(_.startsWith("late re-scan band")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // the banded warm answer equals vanilla over the FULL data — the
    // late rows were folded back in (max(value) included: bucket
    // REPLACEMENT is exact even for non-subtractable measures)
    assertSameRows(warmDF, q(eventsFull))
    assert(recs.sum() > 0 && recs.sum() <= bandBound && bandBound < total,
      s"warm read ${recs.sum()} rows; band bound $bandBound of $total")
  }

  test("late re-scan band covers tumbling-window buckets") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-window")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withLateRescanBand(java.time.Duration.ofDays(3))
    // WINDOW-struct bucket key: the band floors with the window
    // arithmetic and drops state rows on the struct's start field
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max("value").as("max_value"))
      .select(col("w.start").as("ws"), col("cnt"), col("sum_value"),
        col("max_value"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    assert(log.messages.exists(_.startsWith("late re-scan band")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(eventsFull))
  }

  test("late re-scan band: session windows use a state-derived floor") {
    import spark.implicits._
    // the case a FIXED floor gets wrong: key "a" has one continuous
    // session STRADDLING the arithmetic floor (wm − band). Dropping it
    // while re-scanning only ts ≥ floor would lose its early rows — the
    // state-derived cut must regress to that session's start, so the
    // whole session re-reads and re-merges with the band's late rows.
    val hourUs = 3600L * 1000000L
    val dayUs = 24 * hourUs
    val t0 = java.sql.Timestamp.valueOf("2024-03-10 00:00:00").getTime * 1000L
    val splitUs = t0 + 10 * dayUs
    val floor0 = splitUs - dayUs // band = 1 day
    // key a: rows every 10 min from floor0 − 2h to floor0 + 1h (one
    // 30-min-gap session spanning the floor); key b: separate old
    // sessions well below the floor, one LATE row inside the band, and
    // fresh rows after the split for both keys
    val aRows = (0 to 18).map(i =>
      (floor0 - 2 * hourUs + i * 600L * 1000000L, "a", 10.0))
    val bOld = Seq(
      (floor0 - 3 * dayUs, "b", 20.0),
      (floor0 - 2 * dayUs, "b", 21.0))
    val bLate = Seq((floor0 + 2 * hourUs, "b", 22.0))
    val fresh = Seq(
      (splitUs + hourUs, "a", 30.0),
      (splitUs + 2 * hourUs, "b", 31.0))
    def toDf(rows: Seq[(Long, String, Double)]) = rows
      .toDF("us", "event_type", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("value"))
    val work = tmpDir("lateband-session")
    toDf(aRows ++ bOld).write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withLateRescanBand(java.time.Duration.ofDays(1))
    def q(df: DataFrame) = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max("value").as("max_value"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("event_type"),
        col("cnt"), col("sum_value"), col("max_value"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    toDf(bLate ++ fresh).write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    // the derived cut regressed to a's session start, NOT the fixed floor
    val aStart = floor0 - 2 * hourUs
    assert(log.messages.exists(_.contains(s"-> $aStart")),
      s"expected state-derived floor $aStart in: ${log.messages}")
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    assertSameRows(warmDF, q(toDf(aRows ++ bOld ++ bLate ++ fresh)))
  }

  test("late re-scan band: grouping sets band the full grain and re-expand") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-rollup")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withLateRescanBand(java.time.Duration.ofDays(3))
    // Expand used to bail from the band outright; now the full-grain
    // set's rows are banded on the real day bucket and re-expanded into
    // the subtotal/grand-total sets, whose old state rows are discarded
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        max("value").as("max_value"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    assert(log.messages.exists(_.startsWith("late re-scan band")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // subtotal and grand-total rows must reflect the folded-in late rows
    // too — they were rebuilt from banded full-grain state + delta
    assertSameRows(warmDF, q(eventsFull))
  }

  test("late re-scan band composes with factorized joins (temporal twin banded, keyed twin skips)") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    def part(df: DataFrame, t: String) = df
      .filter(col("event_type") === t).select("ts", "user_id", "value")
    val workA = tmpDir("lateband-fact-a")
    val workB = tmpDir("lateband-fact-b")
    // late rows held out of the TEMPORAL side (clicks) only: the click
    // twin groups by (user × hour), so the band can bucket-replace its
    // state. The purchase twin is keyed by join key ALONE — no temporal
    // bucket, so its state cannot be time-replaced and the band SKIPS
    // loudly there (late partner-side rows keep the S1 residual; a
    // user-keyed state has no time-disjoint buckets to drop).
    part(ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate),
      "click").write.mode("overwrite").parquet(workA)
    part(ev.filter(col("ts") < timestamp_micros(lit(splitUs))),
      "purchase").write.mode("overwrite").parquet(workB)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withLateRescanBand(java.time.Duration.ofDays(3))
    def q(a: DataFrame, b: DataFrame) = a
      .join(b, a("user_id") === b("user_id"), "inner")
      .groupBy(date_trunc("hour", a("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"), sum(a("value")).as("sum_click"),
        min(b("value")).as("min_purchase"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB))).collect()
    part(ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate),
      "click").write.mode("append").parquet(workA)
    part(ev.filter(col("ts") >= timestamp_micros(lit(splitUs))),
      "purchase").write.mode("append").parquet(workB)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assertSameRows(warmDF,
      q(spark.read.parquet(workA), spark.read.parquet(workB)))
    assert(log.messages.exists(_.startsWith("factorized join: answered")),
      log.messages)
    // the temporal twin lowered its watermark; the keyed twin skipped
    assert(log.messages.count(_.startsWith("late re-scan band")) >= 1,
      log.messages)
    assert(log.messages.exists(_.contains("band skipped")), log.messages)
  }

  test("late re-scan band without a temporal bucket group skips loudly") {
    val ev = eventsFull
    val splitUs = ev
      .selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    val dayUs = 86400L * 1000000L
    val isLate = col("ts") >= timestamp_micros(lit(splitUs - 2 * dayUs)) &&
      col("ts") < timestamp_micros(lit(splitUs)) && col("event_id") % 3 === 0
    val work = tmpDir("lateband-global")
    ev.filter(col("ts") < timestamp_micros(lit(splitUs)) && !isLate)
      .write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    val log = new RecordingLog
    def cfg(now: Option[Long]) = QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", overrideNowMicros = now, log = log)
      .withLateRescanBand(java.time.Duration.ofDays(3))
    // GLOBAL aggregate: no bucket key, so state rows can't be replaced
    // at bucket grain — the band must skip with a warning, not corrupt
    def q(df: DataFrame) = df.filter(col("value") > 1)
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
    QueryCacheSession(spark, cfg(Some(splitUs)))
      .run(q(spark.read.parquet(work))).collect()
    ev.filter(col("ts") >= timestamp_micros(lit(splitUs)) || isLate)
      .write.mode("append").parquet(work)
    val warmDF = QueryCacheSession(spark, cfg(None))
      .run(q(spark.read.parquet(work)))
    val got = warmDF.collect()
    assert(log.messages.exists(_.contains("band skipped")), log.messages)
    assert(log.messages.exists(_.startsWith("cache hit")), log.messages)
    // the documented residual: late rows stay missed without a bucket key
    val expect = q(ev.filter(!isLate)).collect()
    assert(got.head.getLong(0) == expect.head.getLong(0),
      s"${got.head} vs $expect — band either corrupted state or silently engaged")
  }
}
