package graft

import graft.cache.QueryCache
import graft.log.{CacheLog, NoOpLog}

/** Configuration for the incremental aggregation cache
  * (reference: QueryCacheConfig, src/lib.rs:21-72).
  *
  * Subsumption needs no switch. On an exact-fingerprint miss the probes
  * answer from a warm twin's state: a finer date_trunc grain (regrain),
  * an unbounded time range (rerange), tumbling state at a hop's slide
  * (rehop), a finer tumbling window (retumble), the date_trunc spelling
  * of a window (rewindow), the plain drill-down of grouping sets
  * (regroup), a declared-dimension drill-down or its unfiltered form
  * (redim/refilter, opt-in by `redimDimensionColumns`), fact-keyed state
  * of a static-dim join (rejoin), and a superset of the measures
  * (remeasure). A query the single-state path declines may still be
  * factorized (two-fact joins) or kept as a materialized row view
  * (filter queries). None of them changes an answer. Which probe may
  * answer for which is stated once, in the composition table
  * `IncrementalAggExecutor.composition`.
  *
  * @param cache                 state store (reference src/lib.rs:28)
  * @param defaultTemporalColumn temporal column assumed when the group-by
  *                              doesn't name one (src/lib.rs:22,31-38)
  * @param temporalColumns       additional allowed temporal columns
  *                              (src/lib.rs:23,40-45); matching is
  *                              case-insensitive on the column name
  * @param groupByFunctions      bucketing functions recognized in GROUP BY
  *                              (src/lib.rs:25,52-56; demo registers
  *                              date_trunc, examples/demo.rs:78). `window`
  *                              covers Spark's native tumbling windows.
  * @param overrideNowMicros     frozen "now" for tests/replays
  *                              (src/lib.rs:47-50, examples/demo.rs:77-79)
  * @param strictUpperBound      OFF mirrors the reference contract
  *                              (README.md:23 + SURVEY §2.4 S1): the
  *                              caching run scans with NO upper bound and
  *                              future-dated rows would be double-counted.
  *                              ON additionally filters `ts < now` on every
  *                              caching scan, making cold+appends exact for
  *                              any row with a sane timestamp. The mode is
  *                              part of the cache fingerprint: state
  *                              captured under one mode is never replayed
  *                              under the other (flipping the flag against
  *                              a live cache is a miss, not a wrong band).
  * @param dynamicBoundBucketGranularity opt-in support for the dynamic
  *                              lower bounds the reference rejects
  *                              (`ts >= now() - INTERVAL`, src/aggregate.rs
  *                              :191-193, README.md:131). Requires a
  *                              temporal GROUP-BY bucket; the cache stores
  *                              unbounded state and answers with buckets
  *                              whose START is at/after the bound — i.e.
  *                              bucket granularity, the README's sketched
  *                              semantics. A bucket straddling the cutoff
  *                              is excluded, where a vanilla run would
  *                              return it partially — hence opt-in.
  * @param temporalPartitionColumn name of a Hive-style partition column
  *                              that equals `CAST(<temporal column> AS
  *                              DATE)` (evaluated in the session time zone
  *                              — write and query in the same zone), as
  *                              written by [[graft.sources.Layouts
  *                              .writeTimeSeriesPartitioned]]. When set and
  *                              present in the scan output, the warm path
  *                              adds the implied `part >= date(watermark)`
  *                              conjunct, so history files are pruned at
  *                              PLANNING time (directory-level partition
  *                              pruning) instead of each task opening a
  *                              footer just to skip its row groups. On a
  *                              100 TB table the warm scan's task count
  *                              must follow the appended data, not the
  *                              history size — row-group stats alone
  *                              cannot do that.
  * @param staticDimensionTables opt-in aggregate-over-join caching: tables
  *                              the USER DECLARES append-free (dimension
  *                              tables in a star schema). An aggregate over
  *                              `fact JOIN dim` is cacheable when every
  *                              non-fact side reads only declared tables —
  *                              appended FACT rows join the unchanged dims
  *                              and merge into state exactly like bare fact
  *                              rows. A dim that DOES change makes cached
  *                              answers stale until invalidation — that is
  *                              the declaration's contract (the reference
  *                              wraps whatever sits under the group-by
  *                              aggregate including joins with no check at
  *                              all, src/aggregate.rs:130-135; we require
  *                              the opt-in). Matching is case-insensitive
  *                              on the full source path, its basename, or
  *                              its basename without extension
  *                              ("customer" matches ".../customer.parquet").
  *                              CAUTION: a short declared name matches ANY
  *                              path with that basename — if an appending
  *                              fact table happens to live at a colliding
  *                              path it would be frozen as static and warm
  *                              answers would go stale. Declare full paths
  *                              when basenames are ambiguous. When a
  *                              declared dim DOES change, the one-call
  *                              remedy is `cache.invalidateForTable(path)`
  *                              (same matching rules — and the same
  *                              basename-collision caveat): every entry
  *                              whose plan read that table is dropped and
  *                              the next run is a clean cold miss. For a
  *                              BOUNDED rewrite of a FACT table — a
  *                              backfill, a correction, an INSERT
  *                              OVERWRITE of one partition — prefer
  *                              `cache.repairRange(path, lo, hi)`: state
  *                              survives, only the buckets covering
  *                              [lo, hi) are dropped and re-scanned on
  *                              the next warm run.
  * @param redimDimensionColumns opt-in group-by DIMENSION subsumption
  *                              (the drill-down ↔ roll-up pair dashboards
  *                              hit constantly): on an exact-fingerprint
  *                              MISS, probe for warm state of the SAME
  *                              plan grouped by a superset of this
  *                              query's keys — its grouping plus ONE of
  *                              the declared dimension columns — and
  *                              answer by merging the extra key away
  *                              (every whitelisted state is re-aggregable
  *                              by contract; folding a dimension's groups
  *                              together is the same merge every warm run
  *                              performs). The twin plan is built by pure
  *                              INSERTION of the dimension attribute, so
  *                              unlike grain substitution no other plan
  *                              site can change meaning — the probe
  *                              either finds state captured by exactly
  *                              that superset query or misses. The same
  *                              declaration also enables FILTER
  *                              subsumption: a query slicing a declared
  *                              dimension with an equality/IN conjunct
  *                              answers from the UNFILTERED drill-down's
  *                              warm state sliced on the key (skipped for
  *                              dim-side conjuncts under outer joins,
  *                              where stripping the filter would change
  *                              NULL-extension). Declared by column NAME
  *                              (case-insensitive); empty set = feature
  *                              off. No reference analog (its fingerprint
  *                              is all-or-nothing, src/aggregate.rs:89).
  * @param percentileSketchState ON (default): numeric percentile /
  *                              approx_percentile state past 4096
  *                              distinct values per group compresses
  *                              into a size-capped mergeable quantile
  *                              sketch — answers become rank-bounded
  *                              estimates (~0.2% design bound, envelope-
  *                              oracled). OFF restores the historical
  *                              exact-or-bail contract: state stays
  *                              exact runs and a high-cardinality group
  *                              grows toward maxStateRows, then runs
  *                              vanilla. percentile_disc and discrete
  *                              percentiles never sketch either way —
  *                              their answers must be MEMBERS of the
  *                              data, and a compressed bin's mean is
  *                              not. OFF-mode entries carry a
  *                              fingerprint suffix (like strict mode):
  *                              sketch-mode state — possibly compressed
  *                              bins — must never warm-merge into a run
  *                              that promised exactness, and the two
  *                              states share a schema so only the key
  *                              can keep them apart. Flipping the flag
  *                              against a live cache is therefore a
  *                              MISS, not a wrong answer.
  * @param lateRescanBandMicros  opt-in LATE-DATA tolerance for the batch
  *                              cache (closes the biggest real-user
  *                              hazard the S1 contract leaves open): a
  *                              row that lands in the table AFTER a
  *                              caching run with event time BELOW that
  *                              run's watermark is invisible to the
  *                              normal delta scan (`ts >= wm`) forever.
  *                              With a band B declared, every warm run
  *                              lowers its effective watermark to the
  *                              temporal-bucket FLOOR of (wm − B):
  *                              state buckets at/after the floor are
  *                              DROPPED and the delta scan re-reads
  *                              them from the fact table, REPLACING
  *                              their state — exact for every measure,
  *                              because a dropped bucket's rows then
  *                              come only from the re-scan (the same
  *                              bucket-granularity argument as range
  *                              slicing). Costs one band-width of
  *                              re-scan per warm run (pushed ts range —
  *                              parquet row-group pruning and the
  *                              derived partition conjunct both apply),
  *                              which at 100 TB is the append-sized
  *                              regime, not the history. Requires a
  *                              date_trunc temporal bucket group key
  *                              (replacement needs the bucket column;
  *                              grouping sets NULL the slot) — other
  *                              shapes log a warning and run with the
  *                              plain watermark. Rows arriving later
  *                              than the band are STILL missed: the
  *                              band is a declared tolerance, not a
  *                              guarantee. Under FACTORIZED joins the
  *                              band applies per twin — a partner twin
  *                              keyed by the join key alone has no
  *                              time-disjoint buckets to replace, so
  *                              its late rows keep the S1 residual
  *                              (it logs the skip). None (default) =
  *                              off, the reference's S1 behavior.
  * @param log                   decision log (src/log.rs)
  */
final case class QueryCacheConfig(
    cache: QueryCache,
    defaultTemporalColumn: String,
    temporalColumns: Set[String] = Set.empty,
    groupByFunctions: Set[String] = Set("date_trunc", "window"),
    overrideNowMicros: Option[Long] = None,
    strictUpperBound: Boolean = false,
    dynamicBoundBucketGranularity: Boolean = false,
    temporalPartitionColumn: Option[String] = None,
    staticDimensionTables: Set[String] = Set.empty,
    redimDimensionColumns: Set[String] = Set.empty,
    percentileSketchState: Boolean = true,
    lateRescanBandMicros: Option[Long] = None,
    /** internal bucketing grain for NO-GROUP-BY aggregates with a dynamic
      * lower bound (reference README.md:132's own sketch: "rewrite the
      * aggregation to include a group_by clause, then filter, then
      * aggregate again") — the bound qualifies buckets by their START at
      * this grain, the same bucket-granularity semantics the grouped
      * dynamic-bound path defines. date_trunc grains only. */
    dynamicBoundInternalGrain: String = "hour",
    /** opt-in TEMPORAL TWIN for grouped aggregates WITHOUT a temporal
      * bucket key (`GROUP BY event_type`): state is kept at
      * (date_trunc(grain, ts) × keys) grain through the normal grouped
      * machinery and the answer re-aggregates the buckets away — so
      * repairRange drops only the covering buckets, the late re-scan
      * band applies, and dynamic lower bounds qualify buckets by start,
      * none of which a keys-only state can support (no time slice to
      * drop — such entries rebuild loudly on repair). Costs state size
      * ×(active buckets): pick the grain to taste. Measures must
      * re-aggregate from bucket finalizes (count/sum/min/max/avg,
      * FILTER clauses fine; DISTINCT and order-statistics fall back to
      * the plain keys-only path). date_trunc grains only. */
    temporalTwinGrain: Option[String] = None,
    /** warm AGGREGATE commits go through the cache's O(append) chain
      * (putAppend of this run's group-grained delta partials) instead of
      * rewriting the whole merged state — on a durable cache a dashboard
      * with millions of groups then writes only the appended groups per
      * refresh. The answer merges the replayed chain with the same merge
      * every warm run already performs, so chained and merged entries
      * are interchangeable: flipping this flag against a live cache is
      * always safe (no fingerprint split). Large deltas (≥ ~25% of the
      * chain) and banded runs full-put, which also compacts; the memory
      * cache does not chain (driver-held state, writes are cheap). */
    aggregateStateAppend: Boolean = true,
    /** admission guard for COLD row-state puts (filter-query row views): the
      * SUM of the chain's leaf relation sizes (source file bytes — an
      * upper bound for the admitted chain shapes, since filters and
      * projections only shrink and the star-join shape is fact-bounded)
      * must sit at or below this many bytes, or the view is declined
      * (loud log, query runs vanilla). MemoryQueryCache already
      * capacity-guards every put by rows; this guard exists for DURABLE
      * caches, where a broad filter over a large table would otherwise
      * silently write a result-sized copy of the data on first touch.
      * Zero extra I/O; an over-admission is still caught by the memory
      * cache's row guard, and a durable over-admission costs one bounded
      * write, not a loop (warm runs append deltas only). A selective
      * filter over a genuinely huge source still declines (its result
      * size is unknowable without column stats) — raise this budget
      * consciously for that case. Default 16 GiB. */
    maxRowStateBytes: Long = 16L << 30,
    log: CacheLog = NoOpLog) {

  def withStaticDimensions(tables: String*): QueryCacheConfig =
    copy(staticDimensionTables = staticDimensionTables ++ tables)

  def withRedimDimensions(cols: String*): QueryCacheConfig =
    copy(redimDimensionColumns = redimDimensionColumns ++ cols)

  /** is every source path of this set declared static? (path, basename,
    * and extension-less basename all match case-insensitively — the one
    * candidate-name rule, shared with `QueryCache.pathMatches` via
    * [[QueryCacheConfig.pathCandidates]] so declaration-time and
    * invalidation-time matching can never drift) */
  def isDeclaredStatic(sourcePaths: Seq[String]): Boolean =
    sourcePaths.nonEmpty && sourcePaths.forall { p =>
      QueryCacheConfig.pathCandidates(p).exists(s =>
        staticDimensionTables.exists(_.equalsIgnoreCase(s)))
    }

  def withTemporalPartitioning(partitionCol: String): QueryCacheConfig =
    copy(temporalPartitionColumn = Some(partitionCol))

  def withDynamicBounds: QueryCacheConfig =
    copy(dynamicBoundBucketGranularity = true)

  def withTemporalTwin(grain: String): QueryCacheConfig =
    copy(temporalTwinGrain = Some(grain))

  def withTemporalColumn(col: String): QueryCacheConfig =
    copy(temporalColumns = temporalColumns + col)

  def withGroupByFunction(fn: String): QueryCacheConfig =
    copy(groupByFunctions = groupByFunctions + fn.toLowerCase)

  def withOverrideNowMicros(us: Long): QueryCacheConfig =
    copy(overrideNowMicros = Some(us))

  def withStrictUpperBound: QueryCacheConfig = copy(strictUpperBound = true)

  /** Declare a late-data tolerance: warm runs re-scan (and state-replace)
    * every temporal bucket overlapping `[wm − band, wm)`. */
  def withLateRescanBand(band: java.time.Duration): QueryCacheConfig =
    copy(lateRescanBandMicros = Some(band.toNanos / 1000L))

  /** reference: allow_temporal_column, src/lib.rs:63-71 */
  def allowTemporalColumn(name: String): Boolean = {
    val n = name.toLowerCase
    n == defaultTemporalColumn.toLowerCase ||
      temporalColumns.exists(_.toLowerCase == n)
  }

  /** reference: allow_group_by_function, src/lib.rs:58-61 */
  def allowGroupByFunction(name: String): Boolean =
    groupByFunctions.contains(name.toLowerCase)

  /** Query start time: frozen override or wall clock, epoch micros
    * (reference uses epoch nanos, src/aggregate.rs:375-382; Spark
    * timestamps are micros so we stay in micros throughout). */
  def nowMicros(): Long =
    overrideNowMicros.getOrElse(System.currentTimeMillis() * 1000L)
}

object QueryCacheConfig {
  /** The user-facing spellings of a source path: the path itself, its
    * scheme-less form (scans report `file:/…`/`hdfs://nn/…` where users
    * declare `/…` — the declaration must not silently miss on that), its
    * basename, and the extension-less basename. THE candidate-name rule
    * for both static-dim declarations (`isDeclaredStatic`) and
    * invalidation (`QueryCache.pathMatches`) — one definition so the two
    * ends of the staleness contract can never disagree. */
  private[graft] def pathCandidates(p: String): Seq[String] = {
    val base = p.stripSuffix("/").split('/').last
    val noScheme =
      try {
        val u = new java.net.URI(p)
        if (u.getScheme != null && u.getPath != null && u.getPath.nonEmpty &&
            u.getPath != p)
          Seq(u.getPath)
        else Seq.empty
      } catch { case _: Exception => Seq.empty }
    Seq(p, base, base.takeWhile(_ != '.')) ++ noScheme
  }
}
