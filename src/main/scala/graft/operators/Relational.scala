package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables._
import graft.Tuning.BoundedSortOps
import graft.Num._

/** Core relational operator inventory (SURVEY.md §2) re-expressed Spark-first
  * on the TPC-H-ish star at /root/testdata.
  *
  * Every query is a declarative DataFrame plan — Catalyst handles predicate
  * pushdown, column pruning and join strategy (all dimension sides here are
  * tiny → broadcast hash joins, hinted explicitly where it matters at scale).
  *
  * Numeric discipline: see [[graft.Num]] — money aggregates run in DECIMAL
  * (exact, partial-aggregation friendly) and surface as DOUBLE so that the
  * DuckDB oracle hash-matches bit-for-bit.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Discounted extended price, exact decimal. (cf. reference measure
    * `sales` at etl.py:501-511 — here on the TPC-H-ish columns.) */
  private def revenue: Column =
    money(col("l_extendedprice")) * (lit(1).cast(D18_2) - money(col("l_discount")))

  /** Revenue in exact 1e-4-dollar LONG units: cents(price) × (100 − bp).
    * Same rational value as [[revenue]] (both are exact), but the per-row
    * arithmetic is double/long codegen instead of BigDecimal allocations —
    * ~3× cheaper on the scan-fused aggregation stage, which at bench scale
    * runs single-threaded (one parquet row group). Only for BOUNDED-group
    * sums (per-partkey / per-type): a long e4 sum overflows at
    * Long.MaxValue ≈ 9.2·10¹⁸ units ≈ $9.2·10¹⁴ (~$920T) per group;
    * convert to decimal via [[Num.e4ToDecimal]] at the aggregate boundary
    * before any wider accumulation. The invariant is enforced loudly, not
    * just documented: spark.sql.ansi.enabled defaults to TRUE on Spark 4
    * (no entry point in this repo overrides it), so sum(LongType) throws
    * ARITHMETIC_OVERFLOW instead of wrapping. */
  private def revenueE4: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  private val REV_SQL =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  // ---------------------------------------------------------------- q1: scan
  /** S1/F1/F2 — projection + filter; both must reach the parquet scan
    * (PushedFilters / ReadSchema in explain). Reference: etl.py:47-54 scan,
    * etl.py:96-99 boolean-mask filter. */
  val q1_scan_pushdown: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate").cast(DateType) < lit("1998-01-01") &&
              col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice"),
              col("l_shipdate").cast(DateType).as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  // ------------------------------------------------------- q2: dedup-merge
  /** P1/P2 — the reference's duplicate-order-item merge (etl.py:57-134):
    * one pass, no remove/concat dance. Sums are exact decimal; the
    * quantity-weighted discount (etl.py:110-112) divides exact sums as
    * doubles; "all other columns from the first row" (etl.py:102) becomes
    * min_by over a total order (line number is not unique within a group,
    * so the value itself tiebreaks) — deterministic, unlike bare first(). */
  val q2_dedup_merge: Q = (s, d) => {
    // ORDERKEY-layout gated (see liOrdersBucketed): past gate scale the
    // bucketed lineitem copy's HashPartitioning(l_orderkey) satisfies the
    // (l_orderkey, l_partkey) grouping distribution — the full-fact
    // exchange disappears and the aggregation runs in the scan stage.
    // At gate scales the plain branch below stays bit-identical.
    val bucketed = liOrdersBucketed(s, d).map(_._1)
    val merged = bucketed.getOrElse(
      lineitem(s, d)
      // RANGE-partition by the dedup keys BEFORE aggregating (round 18;
      // hash through round 17). The keys are near-unique (dup groups are
      // the exception, etl.py:74-84), so map-side partial aggregation
      // reduces ~nothing — it only burns CPU building a 600k-entry hash
      // table inside the scan task, and the single-row-group bench files
      // make that scan ONE task (serial bottleneck, measured 0.67 s of a
      // 1.0 s query). One shuffle either way; this form ships raw rows
      // and does all agg work on the wide side — the plan you want at any
      // scale when reduction ratio ≈ 1. RANGE rather than hash because
      // RangePartitioning(okey, pkey) satisfies the aggregation's
      // ClusteredDistribution just the same, while ALSO carrying the
      // presentation order: the final sort becomes sortWithinPartitions
      // (below) and the old second full-width range exchange — whose
      // bounds-sampling pass re-executed the whole wide aggregation —
      // disappears. The sampler now re-reads only the slim scan
      // projection. Same group co-location (the partitioner is a
      // deterministic function of the key), near-unique keys spread
      // ranges evenly, and AQE coalesces ADJACENT ranges so the order
      // survives coalescing.
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("l_orderkey"), col("l_partkey")))
      .groupBy("l_orderkey", "l_partkey")
      // Money sums in split-long units (Num.de2sum/de4sum — round 18): the
      // noop sink revealed ~1.2 s/pass of per-row BigDecimal work in this
      // aggregate (the count sink had pruned the sum columns entirely);
      // cents()-unit long sums recombined in decimal at the boundary are
      // the same exact rationals → the same doubles, at long-codegen cost.
      .agg(
        de2sum(col("l_quantity")).as("quantity"),
        de2sum(col("l_extendedprice")).as("sales"),
        (de4sum(cents(col("l_discount")) * cents(col("l_quantity"))) /
          de2sum(col("l_quantity"))).as("discount_w"),
        // "first row's value" under the total order (linenumber, flag) —
        // packed into one LONG (linenumber dominates, the flag's single
        // ASCII byte tiebreaks) instead of the former zero-padded
        // format_string key: the orders are identical (zero-padded
        // numeric-then-char lexicographic ≡ ln·256+ascii arithmetic), and
        // the packed key is three codegen'd integer ops per row where the
        // string key ALLOCATED a 12-char UTF8String per fact row. The sf30
        // A/B read within-weather (~4% on mins — the agg is memory-bound,
        // not tiebreak-bound; EXPLAIN_r13 §3), kept for the strictly
        // smaller per-row work, not claimed as a measured win.
        min_by(col("l_returnflag"),
               col("l_linenumber").cast(LongType) * 256 +
                 ascii(col("l_returnflag")))
          .as("returnflag"),
        min(col("l_linenumber")).as("first_line"))
    // plain branch: the range partitioning established above already
    // clusters+orders the output — in-partition sort IS the global order.
    // Bucketed branch: hash buckets carry no range order; keep the full
    // sort (its sampler re-reads the bucketed scan, not an exchange).
    if (bucketed.isEmpty) merged.sortWithinPartitions("l_orderkey", "l_partkey")
    else merged.orderBy("l_orderkey", "l_partkey")
  }

  // ----------------------------------------------------------- q3: distinct
  /** F4 — multi-column distinct (etl.py:140,146,150…). */
  val q3_distinct: Q = (s, d) =>
    lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
      .boundedOrderBy("l_returnflag", "l_linestatus")

  // ------------------------------------------- q4: broadcast dim join + agg
  /** J1/A2 — fact⋈dim lookup join (etl.py:452-496). The dimension is tiny at
    * every scale factor → explicit broadcast keeps the fact side shuffle-free
    * on a 1000-executor cluster. */
  /** (lineitem, part) for the partkey join family (q4/q9/q9b/q22/q27),
    * LAYOUT-gated on the same live condition as every other swap in this
    * repo: while `part` fits the broadcast budget, the plain scans + the
    * hinted broadcast give the shuffle-free plan (bench/gate scales);
    * past it — exactly when the join would otherwise shuffle BOTH sides
    * on every run — the family reads the persisted bucket-co-located
    * copies instead: same rows (value-faithfulness hash-pinned by q73's
    * oracle), zero Exchange on either side (BucketedLayoutSpec), 1.84×
    * measured at sf30 isolated (EXPLAIN_r11 §5). First touch past the
    * budget pays the one-time layout build (ensure is content-addressed
    * and marker-cached), the price a deployment pays once per
    * ingest cycle, not per query.
    *
    * SECOND term of the gate (measured, not assumed — sf1 probe read
    * plain 0.27 s vs bucketed 0.36 s): dropping the Exchange only pays
    * once each bucket's fact share is a row-group-scale chunk (~32 MB);
    * below that the fixed bucket-task granularity costs more than the
    * (tiny) shuffle it saves. Crossover data: sf1 0.75×, sf10 1.22×,
    * sf30 1.84× → threshold Buckets × 32 MB of fact bytes sits between
    * the decades where the sign flips. */
  private[operators] def liPart(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // per-bucket minimum is an ops knob (default 32 MB); the gate spec
    // drives the bucketed branch at test scale through it
    val minBucketBytes =
      s.conf.get("graft.bucketed.minBucketBytes", (32L << 20).toString).toLong
    val bucketsPay = graft.Tables.tableBytes(d, "lineitem") >=
      graft.sources.BucketedLayout.Buckets.toLong * minBucketBytes
    if (graft.Tables.fitsBroadcast(s, d, "part", rowBytes = 160) || !bucketsPay)
      (lineitem(s, d), partB(s, d))
    else {
      val (li, pt) = graft.sources.BucketedLayout.ensure(s, d)
      (s.table(li), s.table(pt))
    }
  }

  /** ORDERKEY family gate (q2/q6/q19/q20/q28 — round 12): every one of
    * these shuffles lineitem and/or orders on the orderkey (q2/q19's
    * group-by exchange, q6/q20/q28's fact-to-fact join), and unlike the
    * partkey family there is NO broadcast escape at scale — orders is a
    * fact, never broadcastable next to lineitem, so past gate scale every
    * run re-shuffles. Same lever as [[liPart]]: pay the shuffle ONCE as a
    * persisted orderkey-bucketed layout of both facts, after which the
    * group-bys are exchange-free (HashPartitioning(l_orderkey) satisfies
    * ClusteredDistribution for any grouping set containing the orderkey)
    * and the joins are co-partitioned on both sides. ONE gate term: each
    * bucket's lineitem share must be a row-group-scale chunk (the same
    * measured 32 MB crossover as liPart; below it the fixed 32-task
    * granularity costs more than the small shuffle it saves — and at gate
    * scales AQE right-sizes the plain exchanges, which is exactly the
    * behavior the plain branch keeps). Returns None at gate scales so the
    * plain paths stay bit-identical to rounds ≤11. */
  private[operators] def liOrdersBucketed(
      s: SparkSession, d: String): Option[(DataFrame, DataFrame)] = {
    val minBucketBytes =
      s.conf.get("graft.bucketed.minBucketBytes", (32L << 20).toString).toLong
    val bucketsPay = graft.Tables.tableBytes(d, "lineitem") >=
      graft.sources.BucketedLayout.Buckets.toLong * minBucketBytes
    if (!bucketsPay) None
    else {
      val (li, od) = graft.sources.BucketedLayout.ensureOrderkey(s, d)
      Some((s.table(li), s.table(od)))
    }
  }

  /** CUSTKEY family gate (q26 — round 13, VERDICT r12 #3's rider
    * decision): orders⋈customer is fact-to-dim, but customer GROWS with
    * the data — past the broadcast budget the join shuffles BOTH sides on
    * the custkey every run, the exact shape the orderkey family fixed for
    * fact-to-fact. Same lever, third key: persist (orders by o_custkey,
    * customer by c_custkey) once, read co-located buckets after. TWO gate
    * terms, mirroring [[liPart]]: while customer broadcasts, the plain
    * plan is already orders-shuffle-free (bench scales — plain stays
    * bit-identical); past it, engage once each bucket's ORDERS share is a
    * row-group-scale chunk. The crossover is MEASURED for this family
    * (EXPLAIN_r13 §3, isolated sf A/Bs): 0.78 MB/bucket loses 0.77×,
    * 7.5 MB wins 1.44×, 22 MB wins 1.88× — sign flip between sf1 and
    * sf10, so the default threshold sits at 4 MB/bucket, conservatively
    * above the geometric midpoint (orders is ~¼ of lineitem per decade,
    * which is why this family's threshold is ~¼ of liPart's measured
    * 32 MB). Family-specific knob first, the shared knob as fallback so
    * the forced-gate Verify run drives this branch too. */
  private[operators] def ordersCustBucketed(
      s: SparkSession, d: String): Option[(DataFrame, DataFrame)] = {
    val minBucketBytes =
      s.conf.get("graft.bucketed.custkey.minBucketBytes",
                 s.conf.get("graft.bucketed.minBucketBytes",
                            (4L << 20).toString)).toLong
    val bucketsPay = graft.Tables.tableBytes(d, "orders") >=
      graft.sources.BucketedLayout.Buckets.toLong * minBucketBytes
    if (graft.Tables.fitsBroadcast(s, d, "customer", rowBytes = 160) ||
        !bucketsPay) None
    else Some((
      s.table(graft.sources.BucketedLayout.ensureTable(s, d, "orders", "o_custkey")),
      s.table(graft.sources.BucketedLayout.ensureTable(s, d, "customer", "c_custkey"))))
  }

  /** Partkey-grain fact-aggregate source (q12/q14): both group BARE
    * lineitem by l_partkey before their broadcast dim join, so past gate
    * scale the PARTKEY-bucketed copy — already persisted for the q4
    * family — runs the aggregation in the scan stage (zero exchanges
    * before the slim post-agg rows). Single-term gate, liOrdersBucketed's
    * reasoning: the group-by exchange exists regardless of the dim
    * broadcast, so only the per-bucket-chunk condition matters. */
  private[operators] def liByPartkey(s: SparkSession, d: String): Option[DataFrame] = {
    val minBucketBytes =
      s.conf.get("graft.bucketed.minBucketBytes", (32L << 20).toString).toLong
    val bucketsPay = graft.Tables.tableBytes(d, "lineitem") >=
      graft.sources.BucketedLayout.Buckets.toLong * minBucketBytes
    if (!bucketsPay) None
    else Some(s.table(
      graft.sources.BucketedLayout.ensureTable(s, d, "lineitem", "l_partkey")))
  }

  val q4_brand_revenue: Q = (s, d) => {
    val (li, pt) = liPart(s, d)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      // split-long exact sums (Num.de4sum/de2sum, round 18): same doubles,
      // no per-row BigDecimal — and overflow-safe per brand at 100 TB,
      // where a single long e4 sum would NOT be (see the Num scaladoc)
      .agg(de4sum(revenueE4).as("revenue"),
           de2sum(col("l_quantity")).as("total_qty"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("p_brand")
  }

  /** q4's aggregation over the PERSISTED bucket-co-located (lineitem,
    * part) layout (sources/BucketedLayout) — the twin that shows the
    * layout lever: both tables bucketed by the partkey, so past the
    * broadcast budget the join is exchange-free on BOTH sides (the plan
    * q4 cannot have once `part` outgrows broadcast: sort-merge with two
    * full shuffles). Same result, same oracle SQL as q4 — only the
    * physical layout differs. Plan pinned in BucketedLayoutSpec; the
    * scale A/B factor is recorded in EXPLAIN_r11. */
  val q73_bucketed_brand_revenue: Q = (s, d) => {
    val (li, pt) = graft.sources.BucketedLayout.ensure(s, d)
    s.table(li)
      .join(s.table(pt), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(de4sum(revenueE4).as("revenue"),   // split-long sums, cf. q4
           de2sum(col("l_quantity")).as("total_qty"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("p_brand")
  }

  // ----------------------------------------------- q74: z-ordered slice
  /** Rectangle-slice aggregation over the Z-ORDERED lineitem copy
    * (sources/ZOrderLayout): independent range predicates on BOTH layout
    * dimensions — a partkey prefix and a ship-date year — the query shape
    * whose scan cost the Morton clustering bounds at O(√files) via footer
    * min/max skipping on either column (a single-column sort can only
    * serve one of the two; ZOrderLayoutSpec audits the footers of both
    * layouts directly). Values are layout-independent: the oracle runs
    * the identical slice against the PLAIN table, so the hash-match pins
    * the copy's value-faithfulness, q73's pattern. */
  /** Epoch-micros bounds of the probe year — the session TZ is pinned UTC
    * at every entry point, so these equal the `to_timestamp` literals in
    * the row-level filters (manifest stats are physical TIMESTAMP_MICROS
    * longs). */
  private val micros1996 =
    java.time.LocalDate.of(1996, 1, 1).toEpochDay * 86400L * 1000000L
  private val micros1997 =
    java.time.LocalDate.of(1997, 1, 1).toEpochDay * 86400L * 1000000L

  val q74_zorder_slice: Q = (s, d) => {
    val loc = graft.sources.ZOrderLayout.ensure(s, d)
    // same bound the oracle derives with MAX()//8 — exact integer division
    val maxPk = lineitem(s, d).agg(max(col("l_partkey"))).head().getLong(0)
    // manifest-pruned: the file-level must-read set comes from ONE
    // _stats_manifest read instead of O(files) plan-time footer reads
    // (StatsManifest scaladoc; the full row-level filter below is still
    // applied — file pruning only narrows the scan's input)
    graft.sources.StatsManifest.prunedScan(s, loc, Seq(
        graft.sources.StatsManifest.Range("l_partkey", None, Some(maxPk / 8)),
        graft.sources.StatsManifest.Range("l_shipdate",
          Some(micros1996), Some(micros1997 - 1))))
      .filter(col("l_partkey") <= lit(maxPk / 8) &&
              col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .groupBy("l_returnflag")
      .agg(de4sum(revenueE4).as("revenue"),   // split-long sums, cf. q4
           de2sum(col("l_quantity")).as("total_qty"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("l_returnflag")
  }

  // --------------------------------------------- q77: 3-dim hilbert slice
  /** q74's question one dimension up: a box slice on THREE independent
    * range predicates — partkey prefix, ship-date year, suppkey prefix —
    * over the HILBERT-clustered lineitem copy (sources/HilbertLayout;
    * ZOrderLayout is 16+16-bit 2-dim by construction, the r11 builder
    * note). The 2-dim layouts are blind on the third column: their every
    * file spans the full suppkey range, so the suppkey predicate can
    * never skip — the 3-dim curve gives footer selectivity on all three
    * at once (HilbertLayoutSpec audits the footers; tools/zorder_bytes.py
    * carries the plain / z-2d / hilbert-3d must-read three-way). Values
    * are layout-independent: the oracle runs the identical slice on the
    * PLAIN table — q73/q74's value-faithfulness pattern. */
  val q77_hilbert_slice: Q = (s, d) => {
    val loc = graft.sources.HilbertLayout.ensure(s, d)
    // same bounds the oracle derives with MAX()//k — exact integer division
    val b = lineitem(s, d)
      .agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (maxPk, maxSk) = (b.getLong(0), b.getLong(1))
    // manifest-pruned on all three clustered dimensions (see q74)
    graft.sources.StatsManifest.prunedScan(s, loc, Seq(
        graft.sources.StatsManifest.Range("l_partkey", None, Some(maxPk / 8)),
        graft.sources.StatsManifest.Range("l_shipdate",
          Some(micros1996), Some(micros1997 - 1)),
        graft.sources.StatsManifest.Range("l_suppkey", None, Some(maxSk / 4))))
      .filter(col("l_partkey") <= lit(maxPk / 8) &&
              col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
              col("l_suppkey") <= lit(maxSk / 4))
      .groupBy("l_returnflag")
      .agg(de4sum(revenueE4).as("revenue"),   // split-long sums, cf. q4
           de2sum(col("l_quantity")).as("total_qty"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("l_returnflag")
  }

  // --------------------------------------------------- q5: multi-hop chain
  /** J6 — Orders⋈Location⋈State⋈Region chain (DA:cell 4) → here
    * orders⋈customer⋈nation⋈region; all dims broadcast. */
  val q5_region_revenue: Q = (s, d) => {
    // CUSTKEY-layout gated (ordersCustBucketed, q26's lever): past the
    // customer broadcast budget the first hop shuffles both sides; the
    // persisted custkey pair co-partitions it. The nation/region hops
    // stay broadcast (bounded dims) and the region×nation aggregation is
    // bounded. Plain branch bit-identical at gate scales.
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customerB(s, d)))
    odSrc
      .join(custSrc, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(de2sum(col("o_totalprice")).as("total_sales"), // split-long, cf. q4
           count(lit(1)).as("n_orders"))
      .boundedOrderBy("r_name", "n_name")
  }

  // --------------------------------------- q6: role-playing calendar joins
  /** J2/J8/C5 — the reference's role-playing Calendar (order vs ship date,
    * etl.py:598-599, DA:cell 14): one conformed date dimension joined twice
    * under different aliases, then DATEDIFF between the two roles. The
    * calendar stays tiny forever (it's bounded by days-in-history) →
    * broadcast both roles.
    *
    * Round-7 shape: PARTIAL-AGGREGATE THE FACT BEFORE THE EXCHANGE. The
    * per-priority delay stats decompose per order — sum(datediff) =
    * Σ day(ship) − n·day(orderdate); min/max likewise — so lineitem rolls
    * up to one row per order (count, Σ/min/max ship-day) in the scan
    * stage's map-side combine, and the fact-to-fact exchange carries
    * |orders| pre-aggregated rows instead of |lineitem| raw ones (~4× at
    * any scale; all arithmetic stays exact integers, so results are
    * bit-identical to the raw form and the oracle). The two calendar
    * ROLES then join at the per-order grain: the order-date role and the
    * first-shipment role (min ship-day — a real role-playing use: its
    * datediff IS the order's min delay). */
  val q6_ship_delay: Q = (s, d) => {
    // The conformed calendar is a MATERIALIZED dimension (Tables.calendar)
    // — built once per session like the reference's physical Calendar
    // table; role-playing queries join it, they don't rebuild it.
    val cal = graft.Tables.calendar(s, d)
    val oc = broadcast(cal).as("oc")
    val sc = broadcast(cal).as("sc")
    // fact-to-fact join: SHUFFLE_HASH, not broadcast. At warehouse scale
    // orders is never broadcastable next to lineitem, and at bench scale
    // the broadcast plan fuses the whole join+agg into the unsplittable
    // single-row-group lineitem scan task — the exchange distributes the
    // probe side across the cluster width. The calendar roles stay
    // broadcast (bounded dimension).
    // ORDERKEY-layout gated (liOrdersBucketed): past gate scale both
    // facts read orderkey-co-located buckets — the per-order rollup
    // aggregates in the scan stage (no lineitem exchange) and the
    // fact-to-fact join is co-partitioned on both sides (no orders
    // exchange); only the 5-row priority aggregation still exchanges.
    val bucketedPair = liOrdersBucketed(s, d)
    val (liSrc, odSrc) = bucketedPair
      .getOrElse((lineitem(s, d), orders(s, d)))
    // co-partitioned bucketed join executes at exactly Buckets tasks (no
    // exchange → no AQE coalescing): size the SHJ build against that
    // width, not the session shuffle width
    val shjWidth = bucketedPair.map(_ => graft.sources.BucketedLayout.Buckets)
    // project the ship DAY once per row (round 18, §4): the aggregate
    // children each re-evaluated cast-to-date/unix_date (~5 conversions
    // per fact row inside the scan-fused partial agg); one projected long
    // feeds all three date aggregates, and first_ship is recovered from
    // min(day) through the exact monotonic bijection date_from_unix_date
    val perOrder = liSrc
      .select(col("l_orderkey"),
              unix_date(col("l_shipdate").cast(DateType)).as("sd"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items_o"),
           sum(col("sd")).as("sum_sd"),
           min(col("sd")).as("min_sd"),
           max(col("sd")).as("max_sd"))
      .withColumn("first_ship", date_from_unix_date(col("min_sd").cast(IntegerType)))
    perOrder
      // shuffle-hash while the per-task build fits, SMJ beyond (live
      // budget — the forced hint OOMs once orders outgrows the width;
      // see Tables.shuffleHashIfFits / EXPLAIN_r10 §7)
      .join(shuffleHashIfFits(s, tableRows(s, d, "orders"), 120, odSrc, shjWidth),
            col("l_orderkey") === col("o_orderkey"))
      .join(oc, col("o_orderdate").cast(DateType) === col("oc.full_date"))
      .join(sc, col("first_ship") === col("sc.full_date"))
      .groupBy("o_orderpriority")
      .agg(
        (sum(col("sum_sd") - col("n_items_o") * unix_date(col("oc.full_date")))
          .cast(DoubleType) / sum(col("n_items_o"))).as("avg_delay_days"),
        min(datediff(col("sc.full_date"), col("oc.full_date"))).as("min_delay"),
        max(col("max_sd") - unix_date(col("oc.full_date"))).cast(IntegerType)
          .as("max_delay"),
        sum(col("n_items_o")).as("n_items"))
      .boundedOrderBy("o_orderpriority")
  }

  // ----------------------------------------------------- q7: calendar agg
  /** A2/C4 — multi-measure group sum by year/month (etl.py:711-715). */
  val q7_monthly_sales: Q = (s, d) =>
    orders(s, d)
      .groupBy(year(col("o_orderdate")).as("year_number"),
               month(col("o_orderdate")).as("month_number"))
      .agg(de2sum(col("o_totalprice")).as("total_sales"), // split-long, cf. q4
           count(lit(1)).as("n_orders"))
      .boundedOrderBy("year_number", "month_number")

  // --------------------------------------------------------- q8: rollup
  /** A9/C8 — GROUP BY ... WITH ROLLUP + GROUPING() relabel (DA:cell 8). */
  val q8_rollup_segment: Q = (s, d) =>
    orders(s, d)
      .join(customerB(s, d), col("o_custkey") === col("c_custkey"))
      .rollup(col("c_mktsegment"))
      .agg(de2sum(col("o_totalprice")).as("total_sales"), // split-long, cf. q4
           count(lit(1)).as("n_orders"),
           grouping(col("c_mktsegment")).as("g"))
      .select(
        when(col("g") === 1, lit("TOTAL")).otherwise(col("c_mktsegment")).as("segment"),
        col("total_sales"), col("n_orders"))
      .boundedOrderBy("segment")

  // ------------------------------------------- q9: ordered string agg
  /** A10/C9 — GROUP_CONCAT(... ORDER BY sales DESC) + top-10 cut
    * (DA:cell 26), as a composition of codegen'd built-ins: sort structs,
    * project the name, slice, join. No UDF, no collect to driver. */
  val q9_top_parts_concat: Q = (s, d) => {
    val (li, pt) = liPart(s, d)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_name")
      // long e4 units on the fact-scale grain (bounded per-part groups),
      // exact decimal at the aggregate boundary — cf. q12/q14 (round 18)
      .agg(e4ToDecimal(sum(revenueE4)).as("rev"))
      .groupBy("p_brand")
      .agg(expr(
        "array_join(slice(transform(array_sort(collect_list(named_struct('s', -rev, 'n', p_name))), x -> x.n), 1, 5), ', ')"
      ).as("top_parts"))
      .boundedOrderBy("p_brand")
  }

  /** A10 via the typed bounded-buffer Aggregator (graft.functions
    * .TopKConcat) — identical semantics and oracle as q9, but the buffer
    * holds ≤5 elements instead of the whole group (the 100 TB-safe form). */
  val q9b_topk_aggregator: Q = (s, d) => {
    val (li, pt) = liPart(s, d)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_name")
      .agg(e4ToDecimal(sum(revenueE4)).cast(DoubleType).as("rev")) // cf. q9
      .groupBy("p_brand")
      .agg(graft.functions.TopKConcat.top_k_concat(5)(col("rev"), col("p_name"))
        .as("top_parts"))
      .boundedOrderBy("p_brand")
  }

  // --------------------------------------------------- q10: distinct count
  /** A11 — per-group distinct count (etl.ipynb cells 10-11). At 100 TB the
    * exact countDistinct shuffles once on (group, key); the sketch variant
    * is approx_count_distinct (exposed in q10b below, rows-only check). */
  val q10_distinct_customers: Q = (s, d) => {
    // CUSTKEY-layout gated (see q26): past the broadcast budget the join
    // co-partitions, AND the countDistinct's first phase — the
    // (n_name, o_custkey) dedup aggregate — runs exchange-free too:
    // HashPartitioning(o_custkey) satisfies ClusteredDistribution over
    // any clustering SET containing the custkey. Only the bounded
    // 25-nation final count exchanges.
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customerB(s, d)))
    odSrc
      .join(custSrc, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))
      .boundedOrderBy("n_name")
  }

  /** A11 sketch twin — approx_count_distinct (HLL++). No DuckDB oracle:
    * sketch estimates are engine-specific; driver does a rows-only check. */
  val q10b_approx_distinct: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey")).as("approx_customers"),
           count(lit(1)).as("n_orders"))
      .boundedOrderBy("o_orderstatus")

  // ------------------------------------- q11: pct-of-total + cumulative pct
  /** A12/W3 — scalar-subquery total + SUM(SUM()) OVER (ORDER BY) cumulative
    * share (DA:cell 20). The window runs on the 25-row aggregate, not the
    * fact table — the expensive part stays a plain shuffle-once groupBy. */
  val q11_pct_of_total: Q = (s, d) => {
    // CUSTKEY-layout gated join (see q26/q10); the windows below run on
    // the bounded 25-nation aggregate either way.
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customerB(s, d)))
    val agg = odSrc
      .join(custSrc, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(de2sumDec(col("o_totalprice")).as("rev_d")) // split-long, cf. q4
    agg
      .withColumn("total_d", sum(col("rev_d")).over(Window.partitionBy()))
      .withColumn("cum_d", sum(col("rev_d")).over(Window.orderBy("n_name")))
      .select(col("n_name"),
              col("rev_d").cast(DoubleType).as("revenue"),
              (col("rev_d").cast(DoubleType) / col("total_d").cast(DoubleType) * 100).as("pct"),
              (col("cum_d").cast(DoubleType) / col("total_d").cast(DoubleType) * 100).as("cum_pct"))
      .boundedOrderBy("n_name")
  }

  // --------------------------------------------------------- q12: rank
  /** W1 — RANK() over a derived aggregate (DA:cell 10). Exact decimal
    * revenue ⇒ identical tie behavior in both engines. */
  val q12_rank_parts: Q = (s, d) => {
    // aggregate BEFORE the dim join: revenue only needs lineitem columns
    // and p_partkey→p_name is functional, so grouping the fact alone and
    // broadcast-joining the 1:1 dim onto the (eventually top-10) rows is
    // result-identical (FK inner-join drops the same groups either way)
    // and keeps the wide string column out of the 600k-row shuffle — the
    // plan you want at 100 TB.
    // PRECONDITION (FK integrity): ranking here runs over the bare fact
    // aggregate, while the oracle joins part BEFORE ranking — an
    // l_partkey absent from part would consume a rank slot on this side
    // but be excluded pre-rank by the oracle. Equivalence rests on every
    // l_partkey existing in part (true of the generated testdata and of
    // any FK-clean warehouse); on a non-FK corpus move the join above
    // `agg` (and pay the wide shuffle) or pre-filter to part's key set. The per-group sum runs in long e4 units
    // (bounded per-part groups) and converts to the exact decimal at the
    // aggregate boundary — see revenueE4.
    val agg = liByPartkey(s, d).getOrElse(lineitem(s, d))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(e4ToDecimal(sum(revenueE4)).as("rev_d"))
    // Two-phase top-k (round 10 audit): `RANK() ... <= 10` does NOT sort
    // the whole ~|part| aggregate on one partition — Catalyst's
    // InferWindowGroupLimit inserts a PARTIAL WindowGroupLimit (local
    // top-10-with-ties per map partition) below the single-partition
    // exchange, so the global sort sees ≤ (10+ties)·P slim rows however
    // large |part| grows (EXPLAIN_r10: plan audited, partial limit
    // present). What the optimizer cannot do is reorder the dim join:
    // ranking first and joining p_name onto the surviving ≤ 10 rows keeps
    // the wide string out of the rank pipeline entirely (it used to ride
    // every aggregate row through the window's partial sort).
    agg
      .withColumn("rnk", rank().over(Window.orderBy(col("rev_d").desc)).cast(IntegerType))
      .filter(col("rnk") <= 10)
      .join(partB(s, d).select("p_partkey", "p_name"), Seq("p_partkey"))
      .select(col("rnk"), col("p_partkey"), col("p_name"),
              col("rev_d").cast(DoubleType).as("revenue"))
      .boundedOrderBy("rnk", "p_partkey")
  }

  // ------------------------------------------- q13: running total (RANGE)
  /** W2 — SUM() OVER (PARTITION BY ... ORDER BY date) with the default
    * RANGE frame: same-date peers tie together, exactly as MySQL
    * (DA:cell 12). Partitioned by nation ⇒ parallel across the cluster. */
  val q13_running_sales: Q = (s, d) => {
    // CUSTKEY-layout gated join (see q26/q5).
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customerB(s, d)))
    val joined = odSrc
      .join(custSrc, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderdate").cast(DateType).as("order_date"),
              col("o_orderkey"), col("o_totalprice"))
    // RUNNING-SUM PATH, gated on fact size. The direct per-nation RANGE
    // window caps parallelism at |nations| tasks and buffers each
    // nation's FULL order history per task — the eventual ceiling on a
    // growing fact. The two-phase escape computes the SAME value from
    // the bounded (nation, day) grain (a RANGE frame's running value IS
    // the per-day cumulative; |nations| × days-in-history rows, calendar
    // boundedness) and broadcasts the daily running totals back onto the
    // fact rows — per-task state collapses from a nation's history to
    // nothing. MEASURED at sf30 (EXPLAIN_r13 §9): the escape costs 6.38 s
    // vs the direct window's 1.26, because the broadcast subtree
    // re-executes the fact join for the daily aggregate — the pipeline
    // runs twice. The direct window therefore stays the plan at every
    // scale a single task can buffer one nation's history (~billions of
    // slim rows); the threshold default reflects that measurement
    // instead of pretending the escape is free, and the branch equality
    // is spec-pinned so flipping the knob is safe when a deployment's
    // nation history outgrows a task.
    val maxDirectRows =
      s.conf.get("graft.window.maxDirectRunningRows", (1L << 28).toString).toLong
    if (tableRows(s, d, "orders") <= maxDirectRows) {
      val w = Window.partitionBy("n_name").orderBy("order_date")
      joined
        .withColumn("running_sales",
          sum(money(col("o_totalprice"))).over(w).cast(DoubleType))
        .orderBy("n_name", "order_date", "o_orderkey")
    } else {
      val wDaily = Window.partitionBy("dn").orderBy("dd")
      val daily = joined
        .groupBy(col("n_name").as("dn"), col("order_date").as("dd"))
        .agg(sum(money(col("o_totalprice"))).as("day_sum"))
        .withColumn("run_d", sum(col("day_sum")).over(wDaily))
        .select(col("dn"), col("dd"), col("run_d"))
      joined
        .join(broadcast(daily),
              col("n_name") === col("dn") && col("order_date") === col("dd"))
        .select(col("n_name"), col("order_date"), col("o_orderkey"),
                col("o_totalprice"),
                col("run_d").cast(DoubleType).as("running_sales"))
        .orderBy("n_name", "order_date", "o_orderkey")
    }
  }

  // ------------------------------------------------- q14: Pareto (ROWS)
  /** W4/F5 — explicit ROWS frame running sum + whole-partition total, filter
    * running − x < 0.8·total (DA:cell 24). All comparisons in exact decimal.
    * Ordering inside the frame carries a unique tiebreaker (p_partkey) so
    * the ROWS frame is deterministic. */
  val q14_pareto_parts: Q = (s, d) => {
    // same pre-aggregation as q12: p_partkey determines p_type, so the
    // (p_type, p_partkey) grain IS the l_partkey grain — aggregate the fact
    // alone, then broadcast-join the dim attribute onto ~|part| rows.
    val base = liByPartkey(s, d).getOrElse(lineitem(s, d))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(e4ToDecimal(sum(revenueE4)).as("rev_d"))   // long e4 hot path, cf. q12
      .join(partB(s, d).select("p_partkey", "p_type"), Seq("p_partkey"))
    val wRun = Window.partitionBy("p_type")
      .orderBy(col("rev_d").desc, col("p_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // whole-partition total. Probed at sf30 (EXPLAIN_r13 §3): giving this
    // spec wRun's order + an unbounded frame (value-identical) to fuse
    // both frames into one WindowExec moved nothing (7.20 vs 7.06 s) —
    // the phase cost is the exchange + sort + presentation sort of the
    // ~|part| grain, not the second window pass. Kept orderless (simpler,
    // and the planner needs no second Sort for it).
    val wTot = Window.partitionBy("p_type")
    base
      // ONE exchange for both windows + presentation (round 18, §2.4 —
      // q2/q25's range-first shape): RangePartitioning(p_type) satisfies
      // both window specs' ClusteredDistribution, and the final
      // sortWithinPartitions yields the identical global
      // (p_type, p_partkey) order the old plan bought with a second
      // range exchange whose bounds sampler re-executed the sort + both
      // WindowExecs.
      .repartitionByRange(col("p_type"))
      .withColumn("running_d", sum(col("rev_d")).over(wRun))
      .withColumn("total_d", sum(col("rev_d")).over(wTot))
      .filter(col("running_d") - col("rev_d") <
              expr("CAST(0.8 AS DECIMAL(2,1))") * col("total_d"))
      .select(col("p_type"), col("p_partkey"),
              col("rev_d").cast(DoubleType).as("revenue"),
              col("running_d").cast(DoubleType).as("running_revenue"))
      .sortWithinPartitions("p_type", "p_partkey")
  }

  // --------------------------------------------------------- q15: top-k
  /** O2 — ORDER BY ... DESC LIMIT k ⇒ TakeOrderedAndProject (no global
    * sort at scale). Unique tiebreaker makes the result set deterministic. */
  val q15_topk_orders: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("o_orderdate").cast(DateType).as("order_date"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // --------------------------------------------- q16: calendar dimension
  /** U1/C12/§7.3 — union-distinct of the two date roles + deterministic
    * surrogate keys via row_number over the natural order (etl.py:163-251).
    * The date domain is bounded (days-in-history) ⇒ the single-partition
    * window is safe at any fact scale. */
  val q16_calendar_dim: Q = (s, d) =>
    orders(s, d).select(col("o_orderdate").cast(DateType).as("full_date"))
      .union(lineitem(s, d).select(col("l_shipdate").cast(DateType)))
      .distinct()
      .select(
        row_number().over(Window.orderBy("full_date")).cast(IntegerType).as("calendar_id"),
        col("full_date"),
        year(col("full_date")).as("year_number"),
        month(col("full_date")).as("month_number"),
        date_format(col("full_date"), "MMMM").as("month_name"),
        dayofmonth(col("full_date")).as("day_number"))
      .boundedOrderBy("calendar_id")

  // --------------------------------------------- q17: customer dimension
  /** §7.3 — surrogate keys in *first-appearance* order, the reference's
    * AUTO_INCREMENT semantics (etl.py:255-271): first appearance = min
    * order key, then row_number over it. */
  val q17_customer_dim: Q = (s, d) => {
    // CUSTKEY-layout gated: the first-appearance aggregation groups
    // orders by o_custkey, so the bucketed copy aggregates in the scan
    // stage (HashPartitioning(o_custkey) satisfies the grouping) and the
    // customer join is co-partitioned — zero custkey exchanges before
    // the rank. Plain branch bit-identical at gate scales.
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customerB(s, d)))
    val joined = odSrc
      .groupBy("o_custkey")
      .agg(min(col("o_orderkey")).as("first_seen"))
      .join(custSrc, col("o_custkey") === col("c_custkey"))
    // SURROGATE-KEY RANK, gated on dimension size: the single-partition
    // window is the right plan while the dimension is modest (one task,
    // zero extra jobs), but it funnels EVERY row through one task — for a
    // dimension that grows with the data the scalable two-phase form
    // (Tuning.globalRowNumber: range-partition + prefix offsets; values
    // partitioning-independent because first_seen = min orderkey is
    // unique per customer) takes over past the row threshold. Identical
    // numbers on both branches — row_number over a unique key.
    val maxWindowRows =
      s.conf.get("graft.rank.maxWindowRows", (1L << 20).toString).toLong
    val ranked =
      if (tableRows(s, d, "customer") <= maxWindowRows)
        joined.select(
          row_number().over(Window.orderBy("first_seen"))
            .cast(IntegerType).as("customer_sk"),
          col("c_custkey"), col("c_name"), col("c_mktsegment"), col("first_seen"))
      else
        graft.Tuning.globalRowNumber(joined, col("first_seen"), "__sk")
          .select(col("__sk").cast(IntegerType).as("customer_sk"),
            col("c_custkey"), col("c_name"), col("c_mktsegment"), col("first_seen"))
    ranked.orderBy("customer_sk")
  }

  // --------------------------------------------------- q18: lost value
  /** C6 — lost_value = sales/(1−discount) − sales, 0 when discount ≥ 1
    * (etl.py:503-509). Per-row double math is IEEE-identical across engines;
    * the sum runs over a fixed-point (1e-4) integer snap so float summation
    * order cannot leak into the result. */
  val q18_lost_value: Q = (s, d) =>
    lineitem(s, d)
      .withColumn("lost", expr(
        """CAST(floor((CASE WHEN l_discount < 1
           THEN l_extendedprice / (1 - l_discount) - l_extendedprice
           ELSE 0 END) * 10000 + 0.5) AS DECIMAL(28,0))"""))
      .groupBy("l_returnflag")
      .agg((sum(col("lost")).cast(DoubleType) / 10000).as("lost_value"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("l_returnflag")

  // ----------------------------------------------- q19: HAVING on count
  /** F3/A1 — duplicate-group detection, filter on aggregate (etl.py:74-84). */
  val q19_dup_groups: Q = (s, d) => {
    // ORDERKEY-layout gated, q2's reasoning verbatim (same grouping keys,
    // same round-18 range-first shape: one RANGE exchange serves the wide
    // aggregation AND the presentation order, so the old final orderBy —
    // whose bounds-sampling pass re-executed the whole wide aggregation
    // (StageTime: two ~5-task stages, taskSum 0.36+0.62 s at sf0.1) —
    // reduces to an in-partition sort).
    val bucketed = liOrdersBucketed(s, d).map(_._1)
    val dups = bucketed.getOrElse(
      lineitem(s, d)
      // near-unique group keys → partial agg reduces nothing; shuffle raw
      // rows and aggregate wide instead (same rationale as q2 above). No
      // explicit width: AQE right-sizes the exchange (at bench scale 32
      // fixed tasks cost more scheduling than they parallelize; at 100 TB
      // AQE widens to the data).
      .repartitionByRange(col("l_orderkey"), col("l_partkey")))
      .groupBy("l_orderkey", "l_partkey")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    if (bucketed.isEmpty) dups.sortWithinPartitions("l_orderkey", "l_partkey")
    else dups.orderBy("l_orderkey", "l_partkey")
  }

  // --------------------------------------------------- q20: anti join
  /** S9 — the "Not Found" reject branch (etl.py:489-496) as a left-anti
    * join: orders that have no line items. */
  val q20_orders_no_items: Q = (s, d) => {
    // ORDERKEY-layout gated: co-partitioned anti join, zero exchanges.
    val bucketedPair = liOrdersBucketed(s, d)
    val (liSrc, odSrc) = bucketedPair
      .getOrElse((lineitem(s, d), orders(s, d)))
    // co-partitioned execution is fixed at Buckets tasks (no exchange →
    // no AQE coalescing): size the SHJ build against that width
    val shjWidth = bucketedPair.map(_ => graft.sources.BucketedLayout.Buckets)
    odSrc
      // SHUFFLE_HASH: the anti join only needs a key-set of the right
      // side — SMJ's two full sorts buy nothing here, and the build side
      // is a single deduplicatable bigint column. Still budget-gated:
      // even a key-only build grows linearly with the fact at fixed
      // width (24 B/row UnsafeRow; see Tables.shuffleHashIfFits).
      .join(shuffleHashIfFits(s, tableRows(s, d, "lineitem"), 24,
              liSrc.select("l_orderkey"), shjWidth),
            col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderdate").cast(DateType).as("order_date"))
      .orderBy("o_orderkey")
  }

  // --------------------------------------------------- q21: semi join
  /** Lookup-hit branch as left-semi: customers with ≥1 finished order. */
  val q21_active_customers: Q = (s, d) => {
    // CUSTKEY-layout gated: the semi join shuffles both sides on the
    // custkey at any scale (nothing broadcasts here — the probe side is
    // the filtered fact); the bucketed pair co-partitions it, zero
    // exchanges. Plain branch bit-identical at gate scales.
    val (odSrc, custSrc) = ordersCustBucketed(s, d)
      .getOrElse((orders(s, d), customer(s, d)))
    custSrc
      .join(odSrc.filter(col("o_orderstatus") === "F").select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // --------------------------------------------- q22: weighted average
  /** A6 — quantity-weighted mean discount (etl.py:110-112) per brand. */
  val q22_weighted_discount: Q = (s, d) => {
    val (li, pt) = liPart(s, d)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      // split-long exact sums (cf. q4): the disc×qty product is exact in
      // e4 long units; both sums recombine to the same doubles as the
      // decimal forms, without the per-row BigDecimal allocations
      .agg(
        (de4sum(cents(col("l_discount")) * cents(col("l_quantity"))) /
          de2sum(col("l_quantity"))).as("discount_w"),
        de2sum(col("l_quantity")).as("total_qty"))
      .boundedOrderBy("p_brand")
  }

  // --------------------------------------------------- q23: event windows
  /** Time-bucketed event aggregation (the batch twin of the Structured
    * Streaming pipeline in graft.streaming): tumbling 1-hour windows. */
  val q23_events_hourly: Q = (s, d) =>
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           de2sum(col("value")).as("total_value"), // split-long, cf. q4
           countDistinct(col("user_id")).as("n_users"))
      .boundedOrderBy("hour", "event_type")

  // --------------------------------------------------- q24: JSON extract
  /** Semi-structured props column: JSON path extraction, codegen'd
    * built-in (no UDF). */
  val q24_events_json: Q = (s, d) =>
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"),
           count(lit(1)).as("n"),
           (sum(col("k")).cast(DoubleType) / count(lit(1))).as("avg_k"))
      .boundedOrderBy("event_type")

  // ------------------------------------------------- q29: percentiles
  /** Exact interpolated percentiles (median / p90) per group. Both engines
    * use linear interpolation over the sorted values (Spark `percentile` ↔
    * DuckDB `quantile_cont`) — identical arithmetic on the same doubles.
    * The sketch path at 100 TB is approx_percentile (q29b), exposed
    * rows-only like q10b. */
  val q29_percentiles: Q = (s, d) => {
    // COUNTING-BASED exact percentile (round 18, guide §5 bounded-state).
    // The `percentile` aggregate buffers a boxed value→count OpenHashMap
    // per group in an ObjectHashAggregate — every partial map serialized
    // across the exchange, merged single-threaded, keys sorted boxed at
    // eval (1.67 s of the sf0.1 noop bench; the count sink had pruned the
    // whole aggregate). The identical result from first principles: ONE
    // grouping-sets pass builds (group, value)→count at each measure's
    // grain with codegen hash aggregation (long counts, map-side combine),
    // a per-group running-count window locates the floor/ceil order
    // statistics over the DISTINCT values, and the interpolation below is
    // the Percentile aggregate's own arithmetic, verbatim, on the same
    // doubles: pos = p·(n−1); lower/higher = floor/ceil(pos); result =
    // lower==higher || v_lo==v_hi ? v_lo : (higher−pos)·v_lo+(pos−lower)·v_hi.
    // State is O(distinct values) spillable rows, never a boxed multiset.
    // Each measure gets its OWN two-column scan — TWO total (a
    // grouping-sets single scan was tried first: the per-branch
    // grouping-id filters push below the final aggregate, the three
    // subtrees stop comparing equal, no exchange reuse fires, and every
    // branch re-scans AND re-Expands ×3 — measured 1.65 s, no better than
    // the ObjectHashAggregate). Each scan reads 2 columns where the old
    // plan read 3; the qty branch collapses to ~|rf|·50 rows in the
    // map-side combine and ALSO carries n_items (an unconditional Σc over
    // the same window partition — the NULL-value group counts there, so
    // it is exactly count(1)); the null handling below reproduces the
    // Percentile aggregate's: NULL values are excluded from the order
    // statistics (the window sums count only non-null-v rows; NULLS FIRST
    // ordering keeps the null group at cum 0), and a group with rows but
    // no non-null values still emits its row with a NULL percentile (the
    // n===0 filter disjunct keeps its single null-v grain row alive).
    def pct(vCol: String, p: Double, out: String, withCount: Boolean,
            grain: Boolean): DataFrame = {
      val byV = Window.partitionBy("l_returnflag").orderBy("v")
      // grain=true: counting grain first — pays whenever distinct values ≪
      // rows (qty always: 600k rows → ~|rf|·50 in the map-side combine;
      // price at scale: the domain is BOUNDED — qty×retail-price grid —
      // so a 100 TB fact still grains to ~10⁶ distinct rows, measured
      // 300× reduction at the sf30 probe where the raw form sorted 180M
      // rows per window task, 13.6→195 s). grain=false: RAW rows straight
      // into the window — only for a SMALL fact where the near-unique
      // measure's grain aggregate (583k distinct of 600k at sf0.1)
      // dedupes almost nothing yet costs two hash-agg passes and an extra
      // exchange (raw measured 0.73 s vs ~1.0 grained at sf0.1); the raw
      // row's peer count (RANGE CURRENT ROW..CURRENT ROW) plays the grain
      // count's role in the rank-bracketing condition below. The gate is
      // the fact row count: raw's worst case is bounded while the whole
      // fact is a few-MB shuffle, grain's win is unbounded above it —
      // grain is the safe default at scale (both branches bit-identical,
      // RelationalSpec drives both).
      val rawMax = s.conf.get("graft.percentile.rawMaxRows",
                              (2L << 20).toString).toLong
      val grained =
        if (grain || tableRows(s, d, "lineitem") > rawMax)
          lineitem(s, d)
            .groupBy(col("l_returnflag"), col(vCol).as("v"))
            .agg(count(lit(1)).as("c"))
        else
          lineitem(s, d)
            .select(col("l_returnflag"), col(vCol).as("v"), lit(1L).as("c"))
      // ALL window functions share byV's partitioning AND ordering (the
      // whole-partition frames are order-insensitive) and the conditional
      // weight is projected BEFORE the windows — so the planner fuses them
      // into ONE WindowExec / one partition buffering pass (interleaved
      // projections otherwise split them into three stacked Windows —
      // three passes over the value stream, measured at +0.5 s here)
      // ROWS frames only — no RANGE frame anywhere (round 18): a RANGE
      // running frame pays per-row peer detection (value comparisons +
      // a second frame cursor) inside WindowExec. Both branches admit the
      // ROWS form exactly: grained rows have UNIQUE v per group (it is a
      // group key), so RANGE≡ROWS and the tie count IS the row's own cnn;
      // raw rows use peers=cnn=1 — each row is its own 0-based sorted
      // position cum−1, and tied rows carry the same v, so whichever tie
      // lands on the bracketed position yields the identical value the
      // RANGE form picked (RelationalSpec pins both branches bitwise
      // against percentile() on a tie-adversarial fixture). Measured on
      // the raw price branch at sf0.1: window stage taskSum 1.11→?,
      // see OPTIMIZATION_r18.md.
      val base = grained
        .withColumn("cnn", when(col("v").isNotNull, col("c")).otherwise(lit(0L)))
        .withColumn("cum", sum(col("cnn")).over(      // non-null values ≤ v
          byV.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("peers", col("cnn"))              // non-null ties at v
        .withColumn("n", sum(col("cnn")).over(        // non-null group count
          byV.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("n_items", sum(col("c")).over(    // ALL rows
          byV.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        // percentile ignores NULL inputs; the filter references the
        // window outputs so it cannot push below the window (the n===0
        // disjunct keeps an all-NULL group's row(s) alive — see above)
        .filter(col("v").isNotNull || col("n") === 0L)
        .withColumn("pos", lit(p) * (col("n") - lit(1L)).cast(DoubleType))
        .withColumn("lower", floor(col("pos")))
        .withColumn("higher", ceil(col("pos")))
        // v's non-null ties occupy 0-based sorted positions [cum−peers, cum−1]
        .withColumn("lo_v", when(col("lower") >= col("cum") - col("peers") &&
                                 col("lower") < col("cum"), col("v")))
        .withColumn("hi_v", when(col("higher") >= col("cum") - col("peers") &&
                                 col("higher") < col("cum"), col("v")))
        .groupBy("l_returnflag")
        .agg(max(col("lo_v")).as("lo"), max(col("hi_v")).as("hi"),
             max(col("pos")).as("pos"),
             max(col("lower")).as("lower"), max(col("higher")).as("higher"),
             max(col("n_items")).as("n_items"))
      val res = when(col("lower") === col("higher") || col("lo") === col("hi"),
                     col("lo"))
        .otherwise((col("higher").cast(DoubleType) - col("pos")) * col("lo") +
                   (col("pos") - col("lower").cast(DoubleType)) * col("hi"))
        .as(out)
      if (withCount) base.select(col("l_returnflag"), res, col("n_items"))
      else base.select(col("l_returnflag"), res)
    }
    val med = pct("l_quantity", 0.5, "median_qty", withCount = true,
                  grain = true)
    val p90 = pct("l_extendedprice", 0.9, "p90_price", withCount = false,
                  grain = false)
    // both branches emit exactly one row per group present in the fact
    // (all-NULL groups included, see above) — the join only aligns them.
    // The explicit ≤|rf|-row repartition before the bounded sort is
    // load-bearing: the branches carry no exchange above their windows
    // (the final per-group aggregate reuses the window's rf-partitioning),
    // so boundedOrderBy's Coalesce(1) alone would narrow-fuse the whole
    // 600k-row sort+window pipeline into the single result task (measured:
    // a 1.3 s serial save stage), while a plain orderBy's range-bounds
    // SAMPLING pass executes that same subtree twice (measured: two
    // 600150-record stages). A hash exchange of the 3 joined rows costs
    // nothing, samples nothing, and leaves the windows parallel. It must
    // be the round-robin repartition(1), not repartition(col) — the
    // optimizer elides a hash repartition whose child already carries
    // that partitioning (the join output does), putting the serial fuse
    // right back; RoundRobinPartitioning(1) is never elided, and its
    // pre-repartition local sort sees ≤|rf| rows.
    med.join(p90, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("median_qty"), col("p90_price"),
              col("n_items"))
      .repartition(1)
      .sortWithinPartitions("l_returnflag")
  }

  /** q29's sketch twin at 100 TB: approx_percentile — Spark's
    * Greenwald–Khanna-variant quantile summary (mergeable, bounded
    * memory, one pass; map-side combine applies like any partial agg).
    *
    * DELIBERATELY the built-in, not a custom t-digest (round 8, VERDICT
    * r7 #6 — the decision, documented): GK carries a DETERMINISTIC
    * worst-case rank-error bound (≤ n/B at accuracy B, the bound the
    * bench attests against: measured 0.29 ≤ 2.0 in n/B units), where
    * t-digest's compression bound is empirical — strong in practice,
    * provable only for its size, not its error. t-digest's real edge is
    * relative accuracy at EXTREME quantiles (p99.9+) and a fixed-size
    * sketch for very high B; this workload's p50/p90 sit exactly where
    * GK's uniform rank guarantee is tightest. A battle-tested built-in
    * with a provable bound beats a custom aggregate with a better tail
    * we don't query. Revisit only if the quantile surface grows p99.9-
    * class tails — the attestation machinery (Bench §attest) is
    * sketch-agnostic and would carry a t-digest unchanged.
    *
    * No DuckDB oracle: the sketch is engine-specific, so the driver
    * records a rows-only check; ApproxPercentileSpec attests the
    * estimates sit within the documented accuracy envelope of the exact
    * percentiles and are deterministic. Mirrors the q10b pattern. */
  val q29b_approx_percentiles: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("median_qty"),
           expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("p90_price"),
           count(lit(1)).as("n_items"))
      .boundedOrderBy("l_returnflag")

  // ----------------------------------------------- q50: cube + grouping_id
  /** Full CUBE with grouping-set ids — the generalization of the
    * reference's ROLLUP (A9): every (returnflag × linestatus) subtotal
    * combination in one pass. */
  val q50_cube_sales: Q = (s, d) =>
    // PRE-AGGREGATE to the finest grain BEFORE Expand (guide §2, round 18):
    // cube used to Expand every fact row 4× ahead of the partial aggregate
    // — 4× the scan rows through the hash agg, each with a BigDecimal sum.
    // The (returnflag, linestatus) base grain is bounded (≤ R×S groups
    // forever), so aggregating it first and cubing the ≤ R×S partials is
    // value-identical (sums of sums / counts are exact and associative)
    // and leaves Expand a handful of rows at any scale. Money runs in
    // split-long units (Num.splitHi/splitLo — partial long sums per base
    // cell, recombined exactly in decimal after the cube re-sum; cf. q4).
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(splitHi(cents(col("l_extendedprice")))).as("hi_e2"),
           sum(splitLo(cents(col("l_extendedprice")))).as("lo_e2"),
           count(lit(1)).as("c"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(recombine(sum(col("hi_e2")), sum(col("lo_e2")),
             "0.01", DecimalType(3, 2)).as("total_sales"),
           sum(col("c")).as("n_items"),
           grouping(col("l_returnflag")).as("g_rf"),
           grouping(col("l_linestatus")).as("g_ls"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        (col("g_rf") * 2 + col("g_ls")).cast(IntegerType).as("grouping_set"),
        col("total_sales"), col("n_items"))
      .boundedOrderBy("grouping_set", "returnflag", "linestatus")

  // --------------------------------------------- q51: lead/lag/ntile
  /** Offset + distribution window functions (absent from the reference's
    * workload): month-over-month sales delta via lag, next-month peek via
    * lead, and revenue quartile via ntile — all over the monthly aggregate,
    * so the windows run on tiny data regardless of fact scale. */
  val q51_month_over_month: Q = (s, d) => {
    val monthly = orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(de2sumDec(col("o_totalprice")).as("sales_d")) // split-long, cf. q4
    val w = Window.orderBy("y", "m")
    monthly
      .withColumn("prev_d", lag(col("sales_d"), 1).over(w))
      .withColumn("next_d", lead(col("sales_d"), 1).over(w))
      .withColumn("quartile", ntile(4).over(Window.orderBy(col("sales_d"), col("y"), col("m"))))
      .select(col("y"), col("m"),
              col("sales_d").cast(DoubleType).as("sales"),
              (col("sales_d") - col("prev_d")).cast(DoubleType).as("mom_delta"),
              col("next_d").cast(DoubleType).as("next_sales"),
              col("quartile"))
      .boundedOrderBy("y", "m")
  }

  // --------------------------------------------- q52: intersect / except
  /** Set operators (absent from the reference): customers active in both
    * 1995 and 2000 (INTERSECT) and active in 1995 but gone by 2000
    * (EXCEPT). */
  val q52_set_ops: Q = (s, d) => {
    // year(col) === y defeats scan pushdown (the function call hides the
    // column — so would a cast, o_orderdate is TIMESTAMP); the equivalent
    // half-open range on the raw column folds to timestamp literals and
    // reaches the scan as PushedFilters ⇒ row-group stats pruning at
    // scale. Session timezone is UTC in every entry point, so the literal
    // bounds and year() agree.
    def inYear(y: Int) =
      col("o_orderdate") >= lit(s"$y-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast(TimestampType)
    // INTERSECT/EXCEPT semantics as ONE membership aggregation: both set
    // operators partition active(1995) by membership in active(2000), so
    // one scan of the two years' rows + one exchange on o_custkey
    // computes the same cohorts that the round-6 plan derived from two
    // scans, four aggregations, and two set-op joins (a strict win at any
    // scale: the exchange carries one boolean pair per customer).
    // Spark's native intersect/except produce the identical result —
    // RelationalSpec pins the equality so the set-operator claim stays
    // value-checked, and the DuckDB oracle remains the literal
    // INTERSECT/EXCEPT SQL.
    orders(s, d)
      .filter(inYear(1995) || inYear(2000))
      .groupBy("o_custkey")
      .agg(max(inYear(1995)).as("in95"), max(inYear(2000)).as("in00"))
      .filter(col("in95"))
      .select(when(col("in00"), lit("retained")).otherwise(lit("churned"))
                .as("cohort"),
              col("o_custkey"))
      .orderBy("cohort", "o_custkey")
  }

  // ----------------------------------------------------- q53: pivot
  /** Pivot (wide aggregation): order-status columns per market segment.
    * Explicit pivot values keep the output schema static — the only
    * scale-safe form (value discovery would need an extra pass). */
  val q53_pivot_status: Q = (s, d) =>
    orders(s, d)
      .join(customerB(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("c_mktsegment"),
              coalesce(col("F"), lit(0L)).as("n_f"),
              coalesce(col("O"), lit(0L)).as("n_o"),
              coalesce(col("P"), lit(0L)).as("n_p"))   // absent combo = 0, as FILTER-count
      .boundedOrderBy("c_mktsegment")

  // ----------------------------------------------------- q54: unpivot
  /** Unpivot/melt (long form of q53): per-part price components as
    * (part, component, value) rows via stack(). */
  val q54_unpivot_prices: Q = (s, d) =>
    part(s, d)
      .select(col("p_partkey"), expr(
        """stack(2, 'retail', p_retailprice,
                    'size_x100', CAST(p_size AS DOUBLE) * 100) AS (component, value)"""))
      .orderBy("p_partkey", "component")

  // --------------------------------------------- q55: string parsing
  /** String-function suite (C9/C10 analogs): parse the structured
    * o_orderpriority code ('1-URGENT'), zero-pad (zfill) and re-join. */
  val q55_string_parse: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderkey"),
              substring_index(col("o_orderpriority"), "-", 1).cast(IntegerType)
                .as("priority_num"),
              substring_index(col("o_orderpriority"), "-", -1).as("priority_name"),
              lpad(month(col("o_orderdate")).cast(StringType), 2, "0").as("month_padded"),
              concat_ws("/", lpad(dayofmonth(col("o_orderdate")).cast(StringType), 2, "0"),
                        lpad(month(col("o_orderdate")).cast(StringType), 2, "0"),
                        year(col("o_orderdate")).cast(StringType)).as("order_date_eu"))
      .orderBy("o_orderkey")

  // ===================================================================
  val queries: Map[String, Q] = Map(
    "q29_percentiles"       -> q29_percentiles,
    "q29b_approx_percentiles" -> q29b_approx_percentiles,
    "q50_cube_sales"        -> q50_cube_sales,
    "q51_month_over_month"  -> q51_month_over_month,
    "q52_set_ops"           -> q52_set_ops,
    "q53_pivot_status"      -> q53_pivot_status,
    "q54_unpivot_prices"    -> q54_unpivot_prices,
    "q55_string_parse"      -> q55_string_parse,
    "q1_scan_pushdown"      -> q1_scan_pushdown,
    "q2_dedup_merge"        -> q2_dedup_merge,
    "q3_distinct"           -> q3_distinct,
    "q4_brand_revenue"      -> q4_brand_revenue,
    "q73_bucketed_brand_revenue" -> q73_bucketed_brand_revenue,
    "q74_zorder_slice"      -> q74_zorder_slice,
    "q77_hilbert_slice"     -> q77_hilbert_slice,
    "q5_region_revenue"     -> q5_region_revenue,
    "q6_ship_delay"         -> q6_ship_delay,
    "q7_monthly_sales"      -> q7_monthly_sales,
    "q8_rollup_segment"     -> q8_rollup_segment,
    "q9_top_parts_concat"   -> q9_top_parts_concat,
    "q9b_topk_aggregator"   -> q9b_topk_aggregator,
    "q10_distinct_customers" -> q10_distinct_customers,
    "q10b_approx_distinct"  -> q10b_approx_distinct,
    "q11_pct_of_total"      -> q11_pct_of_total,
    "q12_rank_parts"        -> q12_rank_parts,
    "q13_running_sales"     -> q13_running_sales,
    "q14_pareto_parts"      -> q14_pareto_parts,
    "q15_topk_orders"       -> q15_topk_orders,
    "q16_calendar_dim"      -> q16_calendar_dim,
    "q17_customer_dim"      -> q17_customer_dim,
    "q18_lost_value"        -> q18_lost_value,
    "q19_dup_groups"        -> q19_dup_groups,
    "q20_orders_no_items"   -> q20_orders_no_items,
    "q21_active_customers"  -> q21_active_customers,
    "q22_weighted_discount" -> q22_weighted_discount,
    "q23_events_hourly"     -> q23_events_hourly,
    "q24_events_json"       -> q24_events_json,
  )

  private val MONEY_O = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "q50_cube_sales" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS grouping_set,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
           COUNT(*) AS n_items
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY grouping_set, returnflag, linestatus""",

    "q51_month_over_month" ->
      """WITH monthly AS (
           SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS y,
                  CAST(MONTH(o_orderdate) AS INTEGER) AS m,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sales_d
           FROM orders GROUP BY 1, 2)
         SELECT y, m, CAST(sales_d AS DOUBLE) AS sales,
           CAST(sales_d - LAG(sales_d, 1) OVER (ORDER BY y, m) AS DOUBLE) AS mom_delta,
           CAST(LEAD(sales_d, 1) OVER (ORDER BY y, m) AS DOUBLE) AS next_sales,
           CAST(NTILE(4) OVER (ORDER BY sales_d, y, m) AS INTEGER) AS quartile
         FROM monthly ORDER BY y, m""",

    "q52_set_ops" ->
      """WITH a95 AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995),
            a00 AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 2000)
         SELECT 'retained' AS cohort, o_custkey FROM (SELECT o_custkey FROM a95 INTERSECT SELECT o_custkey FROM a00)
         UNION ALL
         SELECT 'churned' AS cohort, o_custkey FROM (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a00)
         ORDER BY cohort, o_custkey""",

    "q53_pivot_status" ->
      """SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",

    "q54_unpivot_prices" ->
      """SELECT p_partkey, component, value FROM (
           SELECT p_partkey, 'retail' AS component, p_retailprice AS value FROM part
           UNION ALL
           SELECT p_partkey, 'size_x100', CAST(p_size AS DOUBLE) * 100 FROM part)
         ORDER BY p_partkey, component""",

    "q55_string_parse" ->
      """SELECT o_orderkey,
           CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS priority_num,
           string_split(o_orderpriority, '-')[-1] AS priority_name,
           lpad(CAST(MONTH(o_orderdate) AS VARCHAR), 2, '0') AS month_padded,
           concat_ws('/', lpad(CAST(DAY(o_orderdate) AS VARCHAR), 2, '0'),
                     lpad(CAST(MONTH(o_orderdate) AS VARCHAR), 2, '0'),
                     CAST(YEAR(o_orderdate) AS VARCHAR)) AS order_date_eu
         FROM orders ORDER BY o_orderkey""",

    "q29_percentiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           COUNT(*) AS n_items
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q1_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01' AND l_discount > CAST(0.05 AS DOUBLE)
         ORDER BY l_orderkey, l_linenumber""",

    "q2_dedup_merge" ->
      """SELECT l_orderkey, l_partkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS discount_w,
           arg_min(l_returnflag, printf('%010d|%s', l_linenumber, l_returnflag)) AS returnflag,
           MIN(l_linenumber) AS first_line
         FROM lineitem GROUP BY l_orderkey, l_partkey ORDER BY l_orderkey, l_partkey""",

    "q3_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "q4_brand_revenue" ->
      s"""SELECT p_brand,
           CAST(SUM($REV_SQL) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    // q73 = q4 over the bucketed layout: identical semantics, identical
    // SQL — the entry exists to hash-check that the persisted bucketed
    // copies are value-faithful to the source tables
    "q73_bucketed_brand_revenue" ->
      s"""SELECT p_brand,
           CAST(SUM($REV_SQL) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    // q74 runs against the z-ordered COPY; the oracle runs the identical
    // slice against the plain table — the hash-match pins the layout's
    // value-faithfulness (q73's pattern). Bound: exact integer division
    // on both sides (Scala / on longs ≡ DuckDB // for non-negatives).
    "q74_zorder_slice" ->
      s"""SELECT l_returnflag,
           CAST(SUM($REV_SQL) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE l_partkey <= (SELECT MAX(l_partkey) // 8 FROM lineitem)
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q77 runs against the hilbert-clustered 3-dim COPY; same
    // value-faithfulness contract as q74 (oracle = plain table, identical
    // three-predicate box, exact integer division on both sides)
    "q77_hilbert_slice" ->
      s"""SELECT l_returnflag,
           CAST(SUM($REV_SQL) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_items
         FROM lineitem
         WHERE l_partkey <= (SELECT MAX(l_partkey) // 8 FROM lineitem)
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_suppkey <= (SELECT MAX(l_suppkey) // 4 FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q5_region_revenue" ->
      s"""SELECT r_name, n_name, $MONEY_O AS total_sales, COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q6_ship_delay" ->
      """SELECT o_orderpriority,
           CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE)
             / COUNT(*) AS avg_delay_days,
           CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INTEGER) AS min_delay,
           CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INTEGER) AS max_delay,
           COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q7_monthly_sales" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS year_number,
           CAST(MONTH(o_orderdate) AS INTEGER) AS month_number,
           $MONEY_O AS total_sales, COUNT(*) AS n_orders
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "q8_rollup_segment" ->
      s"""SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'TOTAL' ELSE c_mktsegment END AS segment,
           $MONEY_O AS total_sales, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY ROLLUP(c_mktsegment) ORDER BY segment""",

    "q9b_topk_aggregator" ->
      s"""SELECT p_brand,
           array_to_string(list_slice(list(p_name ORDER BY rev DESC, p_name), 1, 5), ', ') AS top_parts
         FROM (
           SELECT p_brand, p_name, CAST(SUM($REV_SQL) AS DOUBLE) AS rev
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand, p_name)
         GROUP BY p_brand ORDER BY p_brand""",

    "q9_top_parts_concat" ->
      s"""SELECT p_brand,
           array_to_string(list_slice(list(p_name ORDER BY rev DESC, p_name), 1, 5), ', ') AS top_parts
         FROM (
           SELECT p_brand, p_name, SUM($REV_SQL) AS rev
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand, p_name)
         GROUP BY p_brand ORDER BY p_brand""",

    "q10_distinct_customers" ->
      """SELECT n_name, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "q11_pct_of_total" ->
      """WITH a AS (
           SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name)
         SELECT n_name,
           CAST(rev_d AS DOUBLE) AS revenue,
           CAST(rev_d AS DOUBLE) / CAST(SUM(rev_d) OVER () AS DOUBLE) * 100 AS pct,
           CAST(SUM(rev_d) OVER (ORDER BY n_name) AS DOUBLE)
             / CAST(SUM(rev_d) OVER () AS DOUBLE) * 100 AS cum_pct
         FROM a ORDER BY n_name""",

    // FK PRECONDITION: this SQL joins part BEFORE ranking; the Spark side
    // ranks the bare fact aggregate and joins after `rnk <= 10` (see the
    // q12 builder note). Hash parity rests on every l_partkey existing in
    // part — true of the generated testdata; a non-FK corpus would shift
    // rank slots between the two forms.
    "q12_rank_parts" ->
      s"""WITH pr AS (
           SELECT p_partkey, p_name, SUM($REV_SQL) AS rev_d
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_partkey, p_name)
         SELECT CAST(RANK() OVER (ORDER BY rev_d DESC) AS INTEGER) AS rnk,
           p_partkey, p_name, CAST(rev_d AS DOUBLE) AS revenue
         FROM pr QUALIFY rnk <= 10 ORDER BY rnk, p_partkey""",

    "q13_running_sales" ->
      """SELECT n_name, CAST(o_orderdate AS DATE) AS order_date, o_orderkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY n_name ORDER BY CAST(o_orderdate AS DATE)) AS DOUBLE) AS running_sales
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY n_name, order_date, o_orderkey""",

    "q14_pareto_parts" ->
      s"""WITH base AS (
           SELECT p_type, p_partkey, SUM($REV_SQL) AS rev_d
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_type, p_partkey),
         win AS (
           SELECT p_type, p_partkey, rev_d,
             SUM(rev_d) OVER (PARTITION BY p_type ORDER BY rev_d DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_d,
             SUM(rev_d) OVER (PARTITION BY p_type) AS total_d
           FROM base)
         SELECT p_type, p_partkey, CAST(rev_d AS DOUBLE) AS revenue,
           CAST(running_d AS DOUBLE) AS running_revenue
         FROM win WHERE running_d - rev_d < 0.8 * total_d
         ORDER BY p_type, p_partkey""",

    "q15_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q16_calendar_dim" ->
      """WITH d AS (
           SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date FROM orders
           UNION
           SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY full_date) AS INTEGER) AS calendar_id,
           full_date,
           CAST(YEAR(full_date) AS INTEGER) AS year_number,
           CAST(MONTH(full_date) AS INTEGER) AS month_number,
           MONTHNAME(full_date) AS month_name,
           CAST(DAY(full_date) AS INTEGER) AS day_number
         FROM d ORDER BY calendar_id""",

    "q17_customer_dim" ->
      """WITH f AS (
           SELECT o_custkey, MIN(o_orderkey) AS first_seen FROM orders GROUP BY o_custkey)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY first_seen) AS INTEGER) AS customer_sk,
           c_custkey, c_name, c_mktsegment, first_seen
         FROM f JOIN customer ON o_custkey = c_custkey
         ORDER BY customer_sk""",

    "q18_lost_value" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(floor((CASE WHEN l_discount < 1
             THEN l_extendedprice / (1 - l_discount) - l_extendedprice
             ELSE 0 END) * 10000 + 0.5) AS DECIMAL(28,0))) AS DOUBLE) / 10000 AS lost_value,
           COUNT(*) AS n_items
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q19_dup_groups" ->
      """SELECT l_orderkey, l_partkey, COUNT(*) AS n FROM lineitem
         GROUP BY l_orderkey, l_partkey HAVING COUNT(*) > 1
         ORDER BY l_orderkey, l_partkey""",

    "q20_orders_no_items" ->
      """SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
         FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",

    "q21_active_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",

    "q22_weighted_discount" ->
      """SELECT p_brand,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS discount_w,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    "q23_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // DuckDB SUM(INTEGER) is HUGEINT (→ float64 via pandas) while Spark
    // sum(int) is BIGINT — CAST to BIGINT per the NOTES_r1 cast discipline.
    // TRY_CAST pins NULL-on-non-numeric parity with Spark's non-ANSI cast.
    "q24_events_json" ->
      """SELECT event_type,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS n,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) / COUNT(*) AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type""",
  )
}
