package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish star at /root/testdata/sf*.
  *
  * All readers are plain parquet scans: schema comes from the files, filters
  * and column pruning are pushed to the scan by Catalyst (verify with
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`).
  */
object Tables {
  /** Resolved-scan cache, keyed by (session, path): `spark.read.parquet`
    * builds a fresh InMemoryFileIndex (directory listing) and re-reads the
    * parquet footer for schema on every call, which at 58 queries × 2–3
    * tables each is pure fixed overhead. A real deployment registers tables
    * once in a catalog and gets this caching for free; the cached DataFrame
    * here is the same thing — the analyzed scan relation is immutable and
    * every query plans on top of it. */
  private val scans =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Drop cache entries belonging to stopped sessions (a JVM that creates
    * and stops several sessions would otherwise retain their resolved
    * scans — and any persisted calendars — for the JVM lifetime). Cheap:
    * runs on every cache access, map is tiny. */
  private def evictStopped(): Unit = {
    scans.keySet.removeIf { case (s, _) => s.sparkContext.isStopped }
    calendars.keySet.removeIf { case (s, _) => s.sparkContext.isStopped }
  }

  /** Full reset — for callers that rewrite parquet under a cached path.
    * Paths are otherwise assumed immutable for the session's lifetime
    * (the testdata directories are read-only); a rewritten file behind a
    * cached InMemoryFileIndex would serve stale listings. */
  def clearCaches(): Unit = { scans.clear(); calendars.clear() }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    evictStopped()
    scans.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, p) => s.read.parquet(p) })
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")

  /** Footer row count per (session, path, file footprint) — `count()` on
    * an unfiltered, unprojected parquet scan is answered from file
    * metadata (no data pages read); memoized because broadcast sizing
    * consults it at every query construction. NOTE this runs an EAGER
    * Spark job (a footer-only one) the first time a path is seen — a
    * deliberate side effect in otherwise-lazy builders, because the
    * broadcast decision must be made at plan-construction time. The cache
    * key includes a (length, mtime) footprint of the files, so a path
    * rewritten mid-session (test regenerations) re-counts instead of
    * serving a stale cardinality into the broadcast budget check —
    * re-broadcasting a now-over-budget table is exactly the OOM this
    * machinery exists to prevent. (The resolved-scan cache above still
    * assumes immutable paths; rewriters must call clearCaches.) */
  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), java.lang.Long]
  private[graft] def pathStamp(p: String): Long = {
    def stamp(f: java.io.File): Long =
      f.lastModified() ^ (f.length() * 2654435761L)
    val f = new java.io.File(p)
    val files = if (f.isDirectory) f.listFiles() else Array(f)
    if (files == null) 0L else files.filter(_.isFile).map(stamp).sum
  }
  /** Footer row count of `embeddings` — IvfIndex.kFor (K∝N coarse-
    * quantizer sizing) consults it at ensure/build time. */
  def embeddingsCount(s: SparkSession, d: String): Long =
    tableRows(s, d, "embeddings")

  /** On-disk parquet footprint of a table — metadata-only (file listing),
    * used by layout gates (Relational.liPart) that need a SIZE, not a row
    * count, to decide whether a persisted layout's per-bucket share is
    * big enough to be worth its task granularity. RECURSIVE (graft.Fs
    * walk): a partitioned/nested source table must report its real
    * footprint, not 0 — a flat listing would silently pin the layout
    * gate false at every scale for such layouts. */
  def tableBytes(d: String, name: String): Long =
    graft.Fs.dirBytes(s"$d/$name.parquet")

  private[graft] def tableRows(s: SparkSession, d: String, name: String): Long = {
    rowCounts.keySet.removeIf { case (ses, _, _) => ses.sparkContext.isStopped }
    val p = s"$d/$name.parquet"
    rowCounts.computeIfAbsent((s, p, pathStamp(p)),
      _ => table(s, d, name).count()).longValue()
  }

  /** Σ n_chars over `documents` — exact corpus text volume from a single
    * column-pruned scan, memoized per (session, path, footprint); q38's
    * broadcast-estimate consults it. Same eager-job caveat as tableRows,
    * and unlike tableRows this one reads a data column (still one narrow
    * column of a table the consumer is about to scan in full). */
  def documentsCharSum(s: SparkSession, d: String): Long = {
    charSums.keySet.removeIf { case (ses, _, _) => ses.sparkContext.isStopped }
    val p = s"$d/documents.parquet"
    charSums.computeIfAbsent((s, p, pathStamp(p)),
      _ => documents(s, d).agg(sum(col("n_chars")).cast(LongType))
             .head.getLong(0)).longValue()
  }
  private val charSums =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), java.lang.Long]

  /** Max doc_id over `documents` — selects the packed-long pair path
    * (SortedPairKeys, ids must fit uint32) vs the struct path. Same
    * memoization + eager-job caveat as documentsCharSum. */
  def documentsMaxId(s: SparkSession, d: String): Long = {
    maxIds.keySet.removeIf { case (ses, _, _) => ses.sparkContext.isStopped }
    val p = s"$d/documents.parquet"
    maxIds.computeIfAbsent((s, p, pathStamp(p)),
      _ => documents(s, d).agg(max(col("doc_id")).cast(LongType))
             .head.getLong(0)).longValue()
  }
  private val maxIds =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), java.lang.Long]

  /** Budget-checked dimension broadcast. `customer` and `part` GROW with
    * the data (unlike nation/region/calendar, which are bounded forever),
    * so an unconditional `broadcast(...)` hint is a scale bug: past the
    * executor/driver budget it OOMs rather than degrading. The decision
    * is metadata-only — footer row count × a conservative in-memory row
    * width against the session broadcast budget; under it → hinted
    * broadcast (the right plan at bench scale and for any genuinely small
    * dimension), over it → the plain table, which the planner shuffles
    * like any fact-to-fact join. Mirrors the live swaps in
    * TextOps.jaccardPairs (sizes) and q38 (test shingles); spec-pinned
    * result equality in RelationalSpec. */
  def dimBroadcast(s: SparkSession, d: String, name: String,
                   rowBytes: Long): DataFrame = {
    val t = table(s, d, name)
    if (fitsBroadcast(s, d, name, rowBytes)) broadcast(t) else t
  }

  /** True while `name` fits the session broadcast budget — the exact
    * condition [[dimBroadcast]] hints on, exposed so consumers can gate a
    * LAYOUT on it too: the moment a dimension stops broadcasting is the
    * moment its join family starts shuffling both sides per run, which is
    * when the persisted bucket-co-located copies pay
    * (Relational.liPart / sources.BucketedLayout). */
  def fitsBroadcast(s: SparkSession, d: String, name: String,
                    rowBytes: Long): Boolean = {
    val budget = s.sessionState.conf.autoBroadcastJoinThreshold
    budget > 0 && tableRows(s, d, name) * rowBytes <= budget
  }
  /** ~in-memory row widths: all columns, UnsafeRow layout, strings at
    * observed average lengths (TESTDATA.md schemas). Deliberately high —
    * past-budget means "stop broadcasting", so overestimating flips early
    * (safe); underestimating OOMs. */
  /** SHUFFLE_HASH only while the per-task build fits — dimBroadcast's
    * live budget applied to the OTHER forced join strategy. A forced
    * shuffle-hash hint removes Catalyst's sort-merge fallback exactly
    * when it's needed: SHJ builds one build-side partition per task, so
    * per-task memory grows linearly with the fact table at fixed
    * shuffle width, and at some scale the build cannot acquire its page
    * (observed empirically at the 300× probe scale: q6/q28 died in
    * warmup with "Can't acquire 67108864 bytes to build hash relation"
    * — EXPLAIN_r10 §7). Estimate per-task bytes as rows × rowBytes ×
    * 4 (hash-map overhead: key array + load factor + UnsafeRow copies)
    * / shuffle width; hint while ≤ 32 MB, else return the frame
    * unhinted and the planner picks SMJ — which degrades to disk, not
    * OOM. Same overestimate-flips-early discipline as dimBroadcast.
    *
    * `fixedWidth`: when the join runs CO-PARTITIONED on a persisted
    * bucketed layout (Relational.liOrdersBucketed families), execution
    * width is exactly the layout's bucket count — there is no exchange,
    * so neither the session shuffle width nor AQE coalescing applies.
    * Sizing against the session width there would overstate parallelism
    * by width/buckets and the forced SHUFFLE_HASH could hit the exact
    * "Can't acquire bytes" OOM this gate exists to prevent — precisely
    * at the large scales where the layout gate engages. Callers on a
    * bucketed source pass Some(BucketedLayout.Buckets). */
  def shuffleHashIfFits(s: SparkSession, buildRows: Long, rowBytes: Long,
                        df: DataFrame,
                        fixedWidth: Option[Int] = None): DataFrame = {
    val conf = s.sessionState.conf
    val width = math.max(1, conf.numShufflePartitions).toLong
    val buildBytes = buildRows * rowBytes
    // numShufflePartitions is an upper bound, not a promise: AQE partition
    // coalescing (on by default) merges post-shuffle partitions up to the
    // advisory size, so the per-task build can be wider than total/width by
    // the coalescing factor. Size against the EFFECTIVE width — at most
    // buildBytes/advisory partitions survive coalescing (estimated from the
    // build side alone, which UNDERcounts the stage's total shuffle bytes,
    // so effWidth is an underestimate and the per-task figure an
    // overestimate: the gate flips to SMJ early, same safe direction as
    // dimBroadcast).
    val effWidth = fixedWidth.map(_.toLong.max(1L)).getOrElse {
      if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled) {
        val advisory = math.max(1L, conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        math.max(1L, math.min(width, buildBytes / advisory))
      } else width
    }
    if (buildBytes * 4 / effWidth <= (32L << 20)) df.hint("shuffle_hash")
    else df
  }

  def customerB(s: SparkSession, d: String): DataFrame =
    dimBroadcast(s, d, "customer", rowBytes = 160)
  def partB(s: SparkSession, d: String): DataFrame =
    dimBroadcast(s, d, "part", rowBytes = 160)
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects by default. Read nanos as long and rebuild a (µs)
    * TimestampType column — same truncation DuckDB applies to ns. */
  /** Requires `spark.sql.legacy.parquet.nanosAsLong=true` — set at SESSION
    * BUILD by every entry point in this repo (Bench/Verify/Smoke/tests),
    * not here: a conf mutation inside a reader would silently change how
    * later scans in the same session decode nanos columns. */
  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "set spark.sql.legacy.parquet.nanosAsLong=true at session build " +
        "(events.parquet stores ts as TIMESTAMP(NANOS))")
    val t = table(s, d, "events")
    t.schema("ts").dataType match {
      // driver testdata (≤ r7): TIMESTAMP(NANOS) surfaced as long → micros,
      // the same truncation DuckDB applies to ns
      case LongType => t.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // driver testdata (r8+): naive timestamp[us] (no isAdjustedToUTC) →
      // TIMESTAMP_NTZ. Cast to the session-tz instant type every consumer
      // (unix_micros, windows, streaming twins) expects; the session tz is
      // pinned UTC at every entry point, so the instant equals DuckDB's
      // naive reading of the same column
      case TimestampNTZType => t.withColumn("ts", col("ts").cast(TimestampType))
      case _ => t // scaled copies (ScaleGen) are already micros timestamps
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  private val calendars =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Conformed calendar dimension: the distinct dates of both fact roles
    * (order date ∪ ship date), materialized ONCE per (session, sfDir) and
    * kept in memory. This mirrors the reference exactly: Calendar is a
    * physical dimension table built by the ETL (setup_database.sql:32-45,
    * etl.py:163-251) that queries JOIN — they never rebuild it. The domain
    * is bounded by days-in-history (~2.5k rows at any fact scale), so the
    * in-memory copy is safe forever; the one-time build is the only full
    * fact-date scan. q16 still exercises the build itself as an operator
    * (U1/O4); role-playing consumers (q6) join this dimension. */
  def calendar(s: SparkSession, d: String): DataFrame = {
    evictStopped()
    // Build OUTSIDE the map operation: the build path calls orders()/
    // lineitem() -> table() -> evictStopped() -> calendars.keySet.removeIf,
    // and a computeIfAbsent mapping function must not modify the map it is
    // computing into (IllegalStateException "recursive update" / bin
    // corruption). putIfAbsent makes a lost race cost one duplicate build,
    // never a corrupted map; the loser's copy is intentionally LEFT
    // persisted — it is the same CacheManager entry as the winner's (see
    // the lost-race comment below).
    val k = (s, d)
    val cached = calendars.get(k)
    if (cached != null) cached
    else {
      val cal = orders(s, d)
        .select(col("o_orderdate").cast(DateType).as("full_date"))
        .union(lineitem(s, d).select(col("l_shipdate").cast(DateType)))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      cal.count() // materialize eagerly, like a dim-table load
      val prior = calendars.putIfAbsent(k, cal)
      // On a lost race, do NOT unpersist: Spark's CacheManager is keyed by
      // logical plan, not DataFrame instance — both racers built the same
      // plan from the same cached scans, so the loser's persist() was a
      // no-op and an unpersist here would evict the WINNER's materialized
      // calendar. The duplicate count() cost one redundant materialization.
      if (prior != null) prior else cal
    }
  }
}

/** Numeric discipline for oracle-exact results.
  *
  * The driver compares our parquet output against DuckDB by value hash, so
  * float summation order must not leak into results. Money columns in the
  * test data carry exactly 2 decimal digits: cast to DECIMAL before
  * aggregating (decimal arithmetic is exact in both Spark and DuckDB), and
  * cast the exact decimal sum to DOUBLE only at the output boundary — the
  * decimal→double conversion is IEEE-correctly-rounded and therefore
  * identical in both engines. At 100 TB the same discipline holds: Spark's
  * decimal sum uses partial aggregation (map-side combine) like any sum.
  */
object Num {
  val D18_2: DecimalType = DecimalType(18, 2)
  val D18_4: DecimalType = DecimalType(18, 4)

  /** Exact money representation (2 decimal digits). */
  def money(c: Column): Column = c.cast(D18_2)

  /** Exact decimal sum emitted as a deterministic double. */
  def dsum(c: Column): Column = sum(c).cast(DoubleType)

  /** Exact hundredths of a NON-NEGATIVE 2-decimal money double, as LONG:
    * floor(x·100 + 0.5).
    *
    * Exactness: a 2-decimal money value n/100 is stored as the nearest
    * double d with |d − n/100| ≤ n·2⁻⁵³/100, so fl(d·100) = n ± n·2.3e-16
    * and adding 0.5 keeps the floor at n for any n below ~10¹⁴ (error
    * would need to reach 0.5). Identical to `money(c)`'s decimal cast
    * (BigDecimal.valueOf shortest-repr, HALF_UP) on that domain — but all
    * double/long codegen ops, no per-row BigDecimal allocation. This is
    * the optimizer's own DecimalAggregates rewrite (unscaled-long sums)
    * applied by hand where the rule's precision-8 cap blocks it. */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast(LongType)

  /** Reinterpret a LONG count of 1e-4-dollar units as exact DECIMAL(18,4)
    * dollars (the inverse boundary of a cents×cents product sum). Used at
    * AGGREGATE grain (thousands of rows), never per source row. */
  def e4ToDecimal(c: Column): Column =
    (c.cast(DecimalType(22, 0)) *
      lit(BigDecimal("0.0001")).cast(DecimalType(5, 4))).cast(D18_4)

  // ---- split-long exact sums over UNBOUNDED groups (round 18) -----------
  // cents()/revenueE4 keep the per-row work in long codegen ops, but a
  // single long SUM caps the per-GROUP total at ~9.2e18 units — which a
  // 25-brand grouping of a 100 TB fact actually reaches (≈1.2e19 e4 units
  // per brand). Splitting each unit count at 2^20 keeps both partial sums
  // inside Long range far past that (`lo` ≤ rows·(2^20−1): overflow needs
  // ~8.8e12 rows in ONE group ≈ 30 PB of lineitem; `hi` carries value/2^20,
  // smaller still) and recombines EXACTLY in decimal at the aggregate
  // boundary: hi·2^20 + lo is the exact unit total, ×10^-k the exact money
  // value, cast to double once — bit-identical to summing DECIMAL per row.
  // ANSI mode (on by default, never overridden here) still guards the
  // documented bound loudly: sum(LongType) throws on overflow, not wraps.
  private[graft] def splitHi(c: Column): Column = shiftright(c, 20)
  private[graft] def splitLo(c: Column): Column =
    c.bitwiseAND(lit((1L << 20) - 1L))

  /** Exact money DECIMAL from split-sum halves of an eN-unit long: callers
    * pass SUM(splitHi(u)) / SUM(splitLo(u)) (or sums-of-sums of those —
    * re-aggregation over partials is exact) and the unit size 10^-k. */
  private[graft] def recombineDec(hiSum: Column, loSum: Column,
                                  unit: String, unitT: DecimalType): Column =
    (hiSum.cast(DecimalType(26, 0)) * lit(1L << 20).cast(DecimalType(7, 0)) +
      loSum.cast(DecimalType(26, 0))).cast(DecimalType(26, 0)) *
      lit(BigDecimal(unit)).cast(unitT)

  /** [[recombineDec]] emitted at the double output boundary. */
  private[graft] def recombine(hiSum: Column, loSum: Column,
                               unit: String, unitT: DecimalType): Column =
    recombineDec(hiSum, loSum, unit, unitT).cast(DoubleType)

  /** Exact double of Σ money(c) over UNBOUNDED groups — the de-facto
    * replacement for `dsum(money(c))` on fact-scale scans: per-row work is
    * floor/shift/and on longs instead of a BigDecimal alloc per row. */
  def de2sum(c: Column): Column = {
    val u = cents(c)
    recombine(sum(splitHi(u)), sum(splitLo(u)), "0.01", DecimalType(3, 2))
  }

  /** Σ money(c) as the exact DECIMAL — for consumers that keep computing
    * on the sum (window deltas, cumulative shares) before their own double
    * boundary; same split-long per-row work as [[de2sum]]. */
  def de2sumDec(c: Column): Column = {
    val u = cents(c)
    recombineDec(sum(splitHi(u)), sum(splitLo(u)), "0.01", DecimalType(3, 2))
  }

  /** Exact double of Σ e4 over UNBOUNDED groups (e4 = a cents×cents
    * product such as [[cents]](price)·(100−[[cents]](discount))). */
  def de4sum(e4: Column): Column =
    recombine(sum(splitHi(e4)), sum(splitLo(e4)), "0.0001", DecimalType(5, 4))
}
