package graft

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line with per-query seconds.
  *
  * Sampling design (hardened after round 2's driver artifact recorded
  * 10x outliers for two sub-second queries that never reproduced):
  *
  *   - One untimed warmup PASS over the whole suite (codegen compilation +
  *     JIT dominate a single local run and are irrelevant at cluster scale).
  *   - Then three timed PASSES over the whole suite, and per query the
  *     MINIMUM across passes is reported. Interleaving matters: round 2
  *     took min-of-3 *consecutive* samples, which a single multi-second
  *     GC/CPU storm can span entirely (all three samples polluted -> the
  *     reported "min" is the storm, not the query). With pass
  *     interleaving, a query's three samples are separated by a full
  *     suite traversal (~10 s), so a transient storm can pollute at most
  *     one of them.
  *   - A System.gc() between passes keeps old-gen debris from one pass
  *     (broadcast blocks, listener backlog) from billing the next.
  *   - A query that throws records -1 and is EXCLUDED from the total,
  *     with the failure printed — a broken query must look broken, not
  *     fast (a near-zero elapsed for an instant throw would otherwise
  *     make a regression read as a speedup).
  *   - Full-precision mins AND medians go to a [bench-detail] line on
  *     stderr (min much-less-than median flags a noisy box); stdout gets
  *     only the compact ms-rounded mins line, sized to survive the
  *     driver's ~2000-char tail capture.
  *   - The headline total excludes queries with no DuckDB oracle
  *     (q10b/q29b approx variants) so the Spark and DuckDB totals cover
  *     the SAME query set. NOTE: this makes totals from round 4 onward
  *     ~0.3-0.5 s lower than BENCH_r1-r3 totals by construction — a
  *     baseline discontinuity, not a pure speedup ("no_oracle_excluded"
  *     in the stdout line marks it).
  */
object Bench {
  /** The RAM-backed scratch decision, shared with BenchDiag: measurements
    * that skip it land on the box's ~77 MB/s buffered-write throttle and
    * bill shuffle IO stalls as query cost (a q9 sf30 probe read 61 s wall
    * where the Bench config reads ~6 — the entire gap was tmp-dir shuffle
    * writes). Any session that MEASURES must use the same scratch. */
  def shmLocalDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    val shmUsable = shm.isDirectory && shm.canWrite
    // DATA-PROPORTIONAL headroom (hardened after an sf30 full suite was
    // OOM-KILLED mid-run): tmpfs pages count as RAM, and with
    // compression OFF a full suite's shuffle files accumulated to ~22×
    // the sf directory's bytes before the ContextCleaner could retire
    // them (113 GB observed for the 5.1 GB sf30 star — the kernel then
    // killed the 12 GB JVM). The launch-time 16 GiB floor said nothing
    // about mid-run growth; the gate now sizes the scratch decision to
    // the input up front, and [[shmCompressOff]] couples the
    // compression choice to the same budget — big SFs keep the RAM
    // scratch but keep lz4 ON, because a suite whose uncompressed
    // shuffle exceeds RAM must not measure on a RAM scratch (finishing
    // slower beats being killed faster).
    // compressed tier: lz4 cuts the retained footprint ~3× (ask for 8×
    // input + slack — 49 GiB at sf30, comfortable on a 126 GiB tmpfs)
    val needCompressed = math.max(16L << 30, 8L * sfBytes + (8L << 30))
    val leftover = graft.Fs.dirBytes("/dev/shm/spark-graft-local")
    if (leftover > (1L << 30))
      System.err.println(s"[bench] WARNING: ${leftover >> 30} GiB of stale " +
        "scratch under /dev/shm/spark-graft-local (a killed run's leftover " +
        "— tmpfs pages count as RAM; remove it before measuring)")
    val shmOk = sys.env.getOrElse("SPARK_GRAFT_SHM", "auto") match {
      case "0" | "off" => false
      case "1" | "on"  => shmUsable
      case _           => shmUsable && shm.getUsableSpace >= needCompressed
    }
    if (shmOk) Some("/dev/shm/spark-graft-local") else None
  }

  /** Whether the shm scratch may also drop shuffle/broadcast COMPRESSION
    * (the −3.4% measured at sf0.1–sf3): only while the UNCOMPRESSED
    * retained footprint (~24× input bytes measured) fits with slack.
    * Past that — sf10+ on this box — the scratch stays RAM-backed (the
    * disk path's 77 MB/s throttle bills 10× into shuffle-heavy queries)
    * but lz4 stays ON so the suite cannot OOM the box it measures on. */
  def shmCompressOff: Boolean = {
    val needRaw = math.max(16L << 30, 24L * sfBytes + (8L << 30))
    new java.io.File("/dev/shm").getUsableSpace >= needRaw
  }

  /** Input bytes of the SF dir both gates budget against — memoized, one
    * walk per JVM (the two gates must never desync: both derive their
    * thresholds from this value). */
  private lazy val sfBytes: Long = graft.Fs.dirBytes(
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

  /** Mover selection for the storm self-adjudication (round 15) — pure
    * and spec-pinned (BenchAdjudicateSpec). Two complementary signals,
    * because a storm leaves two different fingerprints:
    *  - DISAGREE: queries whose own passes disagree (median/min > 1.3
    *    with min ≥ 0.3 s) — at most one pass was clean; top 5 by
    *    absolute spread.
    *  - HEAVY: the 3 largest mins ≥ 1 s — a storm spanning ALL of a
    *    query's samples leaves median/min ≈ 1 and hides from the spread
    *    signal (r14's q56); only a re-read can see it, and for a
    *    genuinely-heavy query the re-read just re-confirms.
    * Floor-class queries (min < 0.3 s) never qualify — their spread is
    * scheduling noise. `riders` are shared-index incremental members
    * whose in-suite accounting isolation cannot reproduce. */
  private[graft] def adjudicationMovers(
      samples: Map[String, Vector[Double]],
      riders: Set[String]): Seq[String] = {
    def stats(nm: String): (Double, Double) = {
      val s = samples(nm).sorted; (s.head, s(s.size / 2))
    }
    val eligible = samples.keys.toSeq.sorted
      .filter(nm => samples(nm).nonEmpty && !riders(nm))
    val disagree = eligible.map(nm => (nm, stats(nm)))
      .filter { case (_, (mn, md)) => mn >= 0.3 && md / mn > 1.3 }
      .sortBy { case (nm, (mn, md)) => (-(md - mn), nm) }.take(5).map(_._1)
    val heavy = eligible.filter(nm => stats(nm)._1 >= 1.0)
      .sortBy(nm => (-stats(nm)._1, nm)).take(3)
    (disagree ++ heavy).distinct
  }

  /** The stdout-artifact adjudication field (round 16, VERDICT r15 #3) —
    * pure and spec-pinned like [[adjudicationMovers]]. The stderr
    * [bench-adjudicate] line can fall outside the driver's ~2000-char
    * stdout tail, leaving a drifted total with no verdict attached
    * (BENCH_r15: +10% with the evidence lost); the parsed JSON line now
    * ALWAYS carries the trigger inputs — the phase rulers (read against
    * the 0.2 storm mark) and the over-15%-spread query count — and, when
    * the adjudication fired, each mover's [suite-min, re-read-min] pair:
    * a fold is re-read < suite; a slower re-read published here is the
    * documented refusal to fold. Head-token keys + 2-decimal values, the
    * queries-map line-budget discipline (~30 chars idle, ~25/mover). */
  private def rd2(x: Double): String = {
    val r = math.rint(x * 100) / 100
    if (r == r.toLong) r.toLong.toString else {
      val t = f"$r%.2f"
      if (t.endsWith("0")) t.dropRight(1) else t
    }
  }

  private[graft] def adjudicationJson(
      calibBefore: Double, calibAfter: Double, spreadCount: Int,
      movers: Seq[String], suiteMins: Map[String, Double],
      rereads: Map[String, Double], priorBlock: String = ""): String = {
    val base = s""""st":[${rd2(calibBefore)},${rd2(calibAfter)}],"sp":$spreadCount"""
    // head-token keys with the queries-map collision guard (ADVICE r16):
    // two movers sharing a head token would silently overwrite each
    // other's [suite, reread] evidence — fall back to full names then
    val heads = movers.map(_.split("_").head)
    val headsUnique = heads.distinct.size == heads.size
    def key(nm: String): String = if (headsUnique) nm.split("_").head else nm
    val m =
      if (movers.isEmpty) ""
      else movers.flatMap { nm =>
        rereads.get(nm).map(r =>
          s""""${key(nm)}":[${rd2(suiteMins(nm))},${rd2(r)}]""")
      }.mkString(""","m":{""", ",", "}")
    s""","adj":{$base$m$priorBlock}"""
  }

  // ---- cross-round drift check (round 17, VERDICT r16 #6) --------------
  /** The in-run spread trigger keys on a query's own passes DISAGREEING —
    * it cannot see a query that drifted between rounds but reads steady
    * within the run (BENCH_r16's q2 0.47→0.84 shipped with no mover
    * entry). This selector compares this run's suite mins against the
    * PREVIOUS round's parsed artifact: top-`n` absolute deltas among
    * queries that moved both ≥ [[PriorMinDelta]] seconds and ≥ 1.3×
    * relatively (either direction — an unexplained speedup is as much a
    * measurement question as a slowdown). Keys are whatever key format
    * both artifacts share (head tokens in practice). Pure and spec-pinned
    * like [[adjudicationMovers]]; the IO half is [[loadPriorQueries]]. */
  val PriorMinDelta = 0.25
  private[graft] def priorMovers(prior: Map[String, Double],
      suite: Map[String, Double], n: Int = 3): Seq[String] =
    suite.keys.toSeq.sorted
      .flatMap(nm => prior.get(nm).map(p => (nm, p, suite(nm))))
      .filter { case (_, p, s) => p > 0 && s > 0 &&
        math.abs(s - p) >= PriorMinDelta &&
        math.max(s, p) / math.min(s, p) > 1.3 }
      .sortBy { case (nm, p, s) => (-math.abs(s - p), nm) }
      .take(n).map(_._1)

  /** Renders the `prior` block inside `adj`: per drifted query
    * [prior-round min, this-suite min, re-read min] — the re-read is the
    * verdict (≈ suite ⇒ the drift is real/code; ≈ prior ⇒ weather the
    * min-of-3 didn't dodge). A mover whose re-reads all failed keeps the
    * 2-element form — disclosed, just unadjudicated. */
  private[graft] def priorJson(movers: Seq[String],
      prior: Map[String, Double], suite: Map[String, Double],
      rereads: Map[String, Double]): String =
    if (movers.isEmpty) ""
    else movers.map { nm =>
      val rr = rereads.get(nm).map("," + rd2(_)).getOrElse("")
      s""""$nm":[${rd2(prior(nm))},${rd2(suite(nm))}$rr]"""
    }.mkString(""","prior":{""", ",", "}")

  /** Latest same-sf `BENCH_r*.json` in the working directory with a
    * parsed stdout line → its per-query map (head-token keys). The driver
    * writes these artifacts into the repo root it runs Bench from, so the
    * previous round's numbers are just THERE — no side channel. Env
    * `SPARK_GRAFT_PRIOR` overrides: a path to a specific artifact, or `0`
    * to disable (A/B runs that deliberately change the workload). */
  private def loadPriorQueries(sfTag: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val files: Seq[java.io.File] = sys.env.get("SPARK_GRAFT_PRIOR") match {
      case Some("0") => Nil
      case Some(p)   => Seq(new java.io.File(p))
      case None =>
        Option(new java.io.File(".").getAbsoluteFile.getParentFile.listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq
          .filter(_.getName.matches("BENCH_r\\d+\\.json"))
          .sortBy(f => -f.getName.replaceAll("\\D", "").toInt)
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    files.iterator.map { f =>
      try {
        val parsed = om.readTree(f).get("parsed")
        if (parsed == null || parsed.isNull ||
            parsed.path("sf").asText("") != sfTag) Map.empty[String, Double]
        else parsed.path("queries").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap
      } catch { case _: Throwable => Map.empty[String, Double] }
    }.find(_.nonEmpty).getOrElse(Map.empty)
  }

  /** Fixed single-thread CPU work, timed: the phase ruler. This box is a
    * shared VM whose effective CPU speed drifts (9.4% steal measured under
    * load in a CALM window; whole phases run ~2× slower) — the drift, not
    * the code, explains most pair-to-pair scatter in the artifacts. A
    * fixed-work timing taken WITH each run lets any two artifacts be
    * phase-normalized after the fact: ratio of calib times = ratio of
    * effective clock. 100M dependent multiply-xor steps, ~0.1-0.3 s. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) { x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("calibration sentinel") // defeat DCE
    dt
  }

  /** All-core companion to [[calibrate]]: the same fixed work on every
    * core at once, reporting wall seconds. The single-thread ruler stayed
    * flat (0.17 s) across back-to-back suites that differed 14% — the
    * burst steal a shared VM applies under FULL load doesn't show at one
    * thread. Ratio mtCalib/calibrate ≈ effective all-core slowdown; two
    * artifacts with matching single-thread rulers but different mt rulers
    * were taken under different contention, and their totals should be
    * read through the mt ratio. */
  def calibrateMt(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => calibrate())
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle/scratch on the RAM-backed fs when one exists: this box
    // throttles BUFFERED file writes to ~77 MB/s (measured; direct writes
    // do 479 MB/s — an aggressive per-device writeback limit), which taxes
    // exactly the shuffle-heavy queries. The bench working set is ≤2 GB on
    // a 128 GB box, and a real cluster provisions local SSDs for shuffle —
    // RAM-backed scratch is the local-mode equivalent, and the DuckDB
    // comparator runs fully in memory at this SF. A/B on the shuffle-heavy
    // subset (q2/q6/q19/q20/q56, alternated ×2): 1.88/1.68 s (shm) vs
    // 2.03/1.92 s (disk). Falls back to the default tmpdir when absent.
    // Gated (round 8, ADVICE): tmpfs fails with ENOSPC instead of
    // degrading to disk, and is typically capped at 50% of RAM — so the
    // RAM scratch engages only with ≥16 GiB free headroom (~8× the
    // sf0.1–sf3 shuffle footprint; a box that can't spare that should
    // measure on its normal tmpdir). SPARK_GRAFT_SHM=0 forces it off,
    // =1 forces it on regardless of headroom.
    val localDir = Bench.shmLocalDir
    val b0 = GraftSession.builder()
    // RAM-backed scratch rides with compression OFF for shuffle/broadcast
    // blocks: lz4 trades CPU + per-exchange latency for disk/network IO
    // that tmpfs never performs. Paired-min A/B (2 alternated full runs
    // per config, per-query mins): 11.52 vs 11.93 s (−3.4%), wins
    // concentrated in the shuffle-heavy queries (q34 −0.10, q35 −0.08,
    // q6 −0.07). Cluster deployments keep compression — network and disk
    // are real there — so this rides the SAME gate as the shm scratch
    // itself and never changes the cluster-default story.
    val compressOff = Bench.shmCompressOff
    val b1 = localDir.fold(b0)(d => b0.config("spark.local.dir", d)
      .config("spark.shuffle.compress", (!compressOff).toString)
      .config("spark.shuffle.spill.compress", (!compressOff).toString)
      .config("spark.broadcast.compress", (!compressOff).toString))
    // SPARK_GRAFT_CONF overrides go LAST so experiments can override the
    // shm-path defaults.
    val spark = GraftSession.withOverrides(b1).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The bench measures sf-scaled throughput on the testdata star. The
    // ss_* reference-workload queries run on the fixed-size superstore
    // warehouse (~10k rows regardless of SF) — they are correctness
    // surface (Verify + CORRECTNESS gate), not scaling surface, so they
    // are excluded here and in tools/bench_duckdb.py alike.
    // SPARK_GRAFT_ONLY=q56_hash_sample,q19_dup_groups — builder-side A/B
    // subset filter. Unset (the driver's invocation) = full suite; the
    // attestation block below is also skipped when filtered so a subset
    // run measures only its subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.filterNot(_._1.startsWith("ss_"))
      .filter(q => only.forall(_.contains(q._1)))
      .sortBy(_._1)

    // Prepared-statement reuse: each query's DataFrame is constructed ONCE
    // (warmup) and re-executed per timed pass. Every sink action still runs
    // a full fresh QueryExecution — analysis, optimization, physical
    // planning, codegen lookup, and ALL stages/shuffles re-execute (fresh
    // shuffle ids; nothing is reused but the immutable logical plan), so
    // the measured work is the full query. What reuse removes is the
    // Scala-side plan RE-construction (~0.02-0.1 s/query of driver CPU) —
    // the prepared-statement analog every real deployment uses for a
    // repeated query. DuckDB's comparator re-runs con.execute(sql) per
    // sample, and its parse+plan is microseconds — this keeps the two
    // sides comparable instead of billing Spark's DataFrame DSL
    // construction ~60×.
    //
    // EXCEPTION: queries whose CONSTRUCTION runs Spark jobs (eager
    // localCheckpoint / driver union-find: the shared shingle index behind
    // q34/q35/q37, q36's simhash materialization, q37's connected
    // components) are rebuilt every pass — reusing them would move real
    // per-query compute out of the timed region, which would not be a
    // measurement.
    //
    // SHARED-INDEX ACCOUNTING (round 8, disclosed): q34/q35/q37 run over
    // ONE materialized shingle index (and q34/q37 over one pair table) per
    // pass — the pipeline shape a real dedup deployment uses; the cache is
    // invalidated at the start of every timed pass, so each pass pays the
    // full index+pair build exactly once, inside the timed region,
    // attributed to the first family member that runs (q34 by sort order;
    // q35/q37 then measure their incremental cost). The DuckDB comparator
    // keeps PER-QUERY ISOLATION — its q34/q35/q37 each recompute the
    // shingle CTE — so the per-family totals are pipeline-vs-isolated;
    // the asymmetry is documented here and in NOTES_r8/EXPLAIN_r8 rather
    // than hidden in either direction. (Mirroring the sharing into DuckDB
    // via temp tables would change its correctness-oracle SQL; keeping
    // the oracle text identical to the CORRECTNESS gate was judged more
    // valuable than comparator symmetry.)
    val rebuildEachPass = Set("q34_ngram_jaccard", "q35_minhash_lsh",
      "q36_simhash_pairs", "q37_neardup_clusters",
      // shared-index family additions (third r8 session): q63 rides the
      // winnow index — same per-pass lifecycle. q64 stopped sharing the
      // in-session band index in r11 (it reads the PERSISTED BandIngest
      // base, built once at warmup like q46's IVF ensure); it stays here
      // so each pass re-pays the construction-time delta count + probe —
      // the true per-day incremental cost, not a cached plan.
      "q63_winnow_dup_pairs", "q64_incremental_neardup",
      // round 9: q38's decontam report is materialized once per pass and
      // shared with q69's flag set (build attributed to q38, the first
      // consumer in sort order); q65 deliberately keeps its own plan —
      // it measures the bloom alternative of the same semantics
      "q38_decontamination", "q69_funnel") ++
      // round 13: q17's scalable surrogate-key path (engaged when the
      // customer dimension exceeds the rank row threshold) localCheckpoints
      // its range-partitioned input during CONSTRUCTION — a prepared plan
      // would serve the whole upstream pipeline from that materialization
      // and hide the real per-query cost. Membership is CONDITIONAL on the
      // gate so sf0.1 (window path, fully lazy) keeps prepared-statement
      // reuse like any other query.
      (if (graft.Tables.tableRows(spark, sfDir, "customer") >
             spark.conf.get("graft.rank.maxWindowRows", (1L << 20).toString).toLong)
         Set("q17_customer_dim") else Set.empty[String])

    // ---- the timed action: noop sink, NOT count() (round 17) ----------
    // count() lets the optimizer prune everything cardinality-preserving
    // above the last aggregation/join: q13's window + both sorts + the
    // range exchange vanish (4 trivial stages where the declared plan has
    // 2 exchanges + Window), q55's parse projection collapses to a bare
    // scan count, and every final presentation sort is eliminated — while
    // the DuckDB comparator fetchall()s the full result of the full
    // query. The built-in noop sink (guide §1.4) computes EVERY column of
    // EVERY row and discards, so the timed region covers the declared
    // query on both sides. This is a MEASUREMENT-BUG FIX, not a speedup:
    // totals from round 17 on are higher than the count-sink rounds by
    // construction (the un-measured window/sort/projection work now
    // bills); the count-sink numbers for this round are kept alongside in
    // OPTIMIZATION_r17.md.
    def runSink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val calibBefore = calibrate()
    val calibMtBefore = calibrateMt(GraftSession.cpus)
    val failed = scala.collection.mutable.Set[String]()
    val prepared = scala.collection.mutable.Map[String, org.apache.spark.sql.DataFrame]()
    // warmup pass (untimed) — also constructs the prepared plans
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        runSink(df)
        if (!rebuildEachPass(name)) prepared(name) = df
      }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED during warmup: ${e.getMessage}")
      }
    }

    // SPARK_GRAFT_SPILL=1 — per-query IN-SUITE task-metric ledger
    // (memory/disk spill bytes, GC ms, task-run ms), attributed by a
    // current-query label with the async listener bus DRAINED at each
    // query boundary (GraftCoreBridge — without the barrier a heavy
    // query's straggler events bill its successor). Spill under SUITE
    // heap pressure is a different regime than spill with the heap to
    // itself (the sf30 q73-vs-q4 inversion question).
    // Stderr-only; the timed region gains two ~0 ms bus drains per query.
    val spillOn = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    val spillCur = new java.util.concurrent.atomic.AtomicReference[String]("")
    val spillLedger = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    def drainBus(): Unit =
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    if (spillOn) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val (q, m) = (spillCur.get, te.taskMetrics)
          if (q.nonEmpty && m != null) {
            val a = spillLedger.computeIfAbsent(q, _ => Array.fill(4)(0L))
            a.synchronized {
              a(0) += m.memoryBytesSpilled; a(1) += m.diskBytesSpilled
              a(2) += m.jvmGCTime;          a(3) += m.executorRunTime
            }
          }
        }
      })

    val passes = 3
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    (1 to passes).foreach { _ =>
      System.gc()
      // drop the shared shingle index: each pass re-pays the build (see
      // SHARED-INDEX ACCOUNTING above)
      graft.operators.TextOps.invalidateSharedIndex()
      queries.foreach { case (name, fn) =>
        if (!failed(name)) {
          if (spillOn) { drainBus(); spillCur.set(name) }
          val t0 = System.nanoTime()
          val ok = try {
            runSink(prepared.getOrElse(name, fn(spark, sfDir)))
            true
          }
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
          if (ok) samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
          if (spillOn) { drainBus(); spillCur.set("") }
        }
      }
    }
    if (spillOn) {
      // per-query SUMS over the 3 timed passes (divide by 3 for per-run):
      // mem/dsk in MiB, gc/run in task-milliseconds
      val cells = spillLedger.entrySet().toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, Array[Long]]])
        .sortBy(_.getKey)
        .map { e =>
          val a = e.getValue
          s""""${e.getKey}":[${a(0) >> 20},${a(1) >> 20},${a(2)},${a(3)}]"""
        }
      System.err.println(
        s"""[bench-spill] {"passes":$passes,"cols":["memSpillMiB","diskSpillMiB","gcMs","taskRunMs"],"queries":{${cells.mkString(",")}}}""")
    }

    // phase ruler closing the timed region (the matching open is above
    // the warmup); read HERE so the storm self-adjudication below can
    // consult it before the artifact lines are built
    val calibAfter = calibrate()
    val calibMtAfter = calibrateMt(GraftSession.cpus)

    // ---- storm self-adjudication (round 15, VERDICT r14 #4) ------------
    // A degraded window makes the interleaved 3-pass min read as a code
    // regression: r14's driver artifact read 18% over r13 from weather
    // alone, settled only by a NEXT-SESSION isolated re-run of the
    // movers. When this run's own phase evidence flags degradation —
    // either ruler past the storm mark, or a wide min≪median spread —
    // the run re-reads its biggest movers in isolation (sequential,
    // post-GC: the SPARK_GRAFT_ONLY mechanism folded into the same
    // artifact) and folds each re-read in as EXTRA SAMPLES of the same
    // min-of-k estimator — a min can only improve, never switch metric.
    // Mover selection needs no cross-round reference: (a) queries whose
    // own passes disagree (median/min > 1.3 — at most one pass is clean),
    // and (b) the heavy tail (a storm spanning ALL THREE of a query's
    // samples leaves median/min ≈ 1, which (a) cannot see — r14's q56
    // case; re-reading the largest mins catches exactly those, and a
    // genuinely-heavy query just re-confirms its value for a few
    // seconds). Floor-class queries (min < 0.3 s) are excluded: their
    // spread is scheduling noise the ruler already prices.
    // SPARK_GRAFT_ADJUDICATE=0 disables, =1 forces; subset (ONLY) runs
    // never adjudicate — they ARE the isolated re-read.
    val stormStMark = spark.conf.getOption("graft.bench.stormStS")
      .map(_.toDouble).getOrElse(0.2)
    val spreadCount = queries.count { case (nm, _) =>
      val s = samples(nm)
      s.size >= 2 && s.min > 0.05 && s.sorted.apply(s.size / 2) / s.min > 1.15 }
    val stormy = sys.env.getOrElse("SPARK_GRAFT_ADJUDICATE", "auto") match {
      case "0" => false
      case "1" => only.isEmpty
      case _   => only.isEmpty && (
        math.max(calibBefore, calibAfter) > stormStMark ||
        (queries.nonEmpty && spreadCount * 4 > queries.size))
    }
    val adjudicated = scala.collection.mutable.Map[String, Double]()
    var adjMovers: Seq[String] = Nil
    // shared-index RIDERS measure their INCREMENTAL cost in-suite (the
    // build is attributed to the family head in sort order); isolation
    // cannot reproduce that accounting — with the caches dropped they
    // over-pay the build, with them warm they under-pay it (a stale
    // index from the last pass made a q34 re-read read 0.04 s in the
    // shakedown run — an invalid fold). Heads re-pay their own build
    // per sample (caches dropped before EACH sample), which IS their
    // in-suite accounting. (Shared by the storm adjudication AND the
    // cross-round drift check below.)
    val riders = Set("q35_minhash_lsh", "q37_neardup_clusters", "q69_funnel")
    // one isolated re-read, the SPARK_GRAFT_ONLY mechanism folded in-run:
    // 2 sequential post-GC samples, min — shared by both adjudicators
    def isolatedReread(nm: String): Option[Double] = {
      val fn = SparkEntry.queries(nm)
      val rs = (1 to 2).flatMap { _ =>
        System.gc()
        graft.operators.TextOps.invalidateSharedIndex()
        val t0 = System.nanoTime()
        try { runSink(fn(spark, sfDir))
              Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] adjudication re-read of $nm FAILED: ${e.getMessage}")
          None }
      }
      rs.minOption
    }
    if (stormy) {
      def stats(nm: String): (Double, Double) = {
        val s = samples(nm).sorted; (s.head, s(s.size / 2))
      }
      val movers = adjudicationMovers(
        queries.map(_._1).filterNot(failed)
          .map(nm => nm -> samples(nm)).toMap, riders)
      adjMovers = movers
      movers.foreach { nm =>
        isolatedReread(nm).foreach(adjudicated(nm) = _)
      }
      val cells = movers.flatMap { nm =>
        adjudicated.get(nm).map { r =>
          f""""$nm":{"suite":${stats(nm)._1}%.3f,"reread":$r%.3f}""" } }
      System.err.println(
        f"""[bench-adjudicate] {"st":[$calibBefore%.3f,$calibAfter%.3f],""" +
        f""""st_post":${calibrate()}%.3f,"spread_over_1p15":$spreadCount,""" +
        s""""movers":{${cells.mkString(",")}}}""")
    }

    // ---- cross-round drift check (round 17, VERDICT r16 #6) ------------
    // Independent of storminess by design: the case it exists for (q2
    // 0.47→0.84 between r15 and r16) had clean rulers and agreeing
    // passes — only a cross-round reference can see it. Selection
    // (priorMovers) and rendering (priorJson) are pure + spec-pinned;
    // keys use the stdout artifact's own format so the two rounds'
    // artifacts compare without a mapping table.
    val okNames = queries.map(_._1).filterNot(failed).filter(samples(_).nonEmpty)
    val okHeads = okNames.map(_.split("_").head)
    val artKeyed = okHeads.distinct.size == okHeads.size
    def artKey(nm: String): String = if (artKeyed) nm.split("_").head else nm
    val priorMap = if (only.nonEmpty) Map.empty[String, Double]
                   else loadPriorQueries(new java.io.File(sfDir).getName)
    val suiteByKey = okNames.map(nm => artKey(nm) -> samples(nm).min).toMap
    val pMovers = if (priorMap.isEmpty) Nil else priorMovers(priorMap, suiteByKey)
    val keyToFull = okNames.map(nm => artKey(nm) -> nm).toMap
    val priorRereads = scala.collection.mutable.Map[String, Double]()
    pMovers.foreach { k =>
      val nm = keyToFull(k)
      // riders drift is disclosed WITHOUT a re-read element (isolation
      // can't reproduce their in-suite accounting — see `riders`)
      if (!riders(nm)) {
        val r = adjudicated.get(nm).orElse(isolatedReread(nm))
        r.foreach { rr =>
          priorRereads(k) = rr
          // fold as an extra sample of the same min-of-k estimator —
          // a min can only improve, never switch metric
          adjudicated(nm) = math.min(adjudicated.getOrElse(nm, rr), rr)
        }
      }
    }
    val priorBlock = priorJson(pMovers, priorMap, suiteByKey, priorRereads.toMap)

    def fmt(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Per-query seconds rounded to 10 ms, trailing zeros stripped: the
    // driver's artifact keeps only the LAST ~2000 chars of output, so the
    // stdout line must be compact enough to survive whole (rounds 1-3
    // shipped full-precision mins + medians on one line -> the driver's
    // tail cut the line's head -> "parsed": null in every BENCH_r*.json;
    // the suite growing to 85 queries in round 8 pushed the 3-decimal
    // form past the cap again, hence 2-decimal + stripped). Full
    // precision + medians go to stderr FIRST.
    def fmt2s(m: Seq[(String, Double)]): String =
      m.map { case (k, v) =>
        val r = math.rint(v * 100) / 100
        val s0 = if (r == r.toLong) r.toLong.toString else {
          val t = f"$r%.2f"
          if (t.endsWith("0")) t.dropRight(1) else t
        }
        "\"" + k + "\":" + s0
      }.mkString("{", ",", "}")
    val mins = queries.map { case (name, _) =>
      name -> (if (failed(name) || samples(name).isEmpty) -1.0
               else adjudicated.get(name).fold(samples(name).min)(
                 math.min(samples(name).min, _)))
    }
    val medians = queries.map { case (name, _) =>
      val s = samples(name).sorted
      name -> (if (failed(name) || s.isEmpty) -1.0 else s(s.size / 2))
    }
    // Queries with no DuckDB oracle can't appear in the DuckDB-side total
    // (tools/bench_duckdb.py iterates oracle_sql keys), so keep the two
    // compared totals over the SAME query set: exclude them from the
    // headline map + total and report them separately on stderr.
    val noOracle = queries.map(_._1).filterNot(SparkEntry.oracleSql.contains).toSet
    val gated = mins.filterNot { case (n, _) => noOracle(n) }
    // 2 decimals: 10 ms resolution on an ~85-query total is already inside
    // the box's phase noise; the third decimal only spent line budget
    val total = math.rint(gated.collect { case (_, v) if v >= 0 => v }.sum * 100) / 100
    val noOracleJson = noOracle.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // phase rulers bracketing the timed region (see calibrate()): stderr
    // only — comparisons across artifacts divide by these, the stdout
    // line's budget stays untouched (values read above, before the
    // self-adjudication block, so they describe the SUITE window)
    System.err.println(
      f"""[bench-detail] {"calib_before_s":$calibBefore%.3f,"calib_after_s":$calibAfter%.3f,""" +
      f""""calib_mt_before_s":$calibMtBefore%.3f,"calib_mt_after_s":$calibMtAfter%.3f}""")
    System.err.println(s"""[bench-detail] {"mins":${fmt(mins)},"medians":${fmt(medians)},"no_oracle":$noOracleJson}""")
    // Sketch attestations: the two rows-only-by-design sketches (q10b
    // HLL++, q29b quantile summary) carry their own evidence in the
    // artifact — the MEASURED error on this run's data next to the
    // documented bound (the specs' envelopes: 3σ of rsd=5% ⇒ 0.15
    // relative for HLL; 2·n/B rank error for approx_percentile(B=1000)).
    // Untimed — this is evidence harness, not operator cost.
    val attest = if (only.nonEmpty) "" else try {
      import org.apache.spark.sql.functions.{col, countDistinct}
      val approxD = SparkEntry.queries("q10b_approx_distinct")(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactD = Tables.orders(spark, sfDir).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val relErr = exactD.map { case (k, n) =>
        math.abs(approxD(k) - n).toDouble / math.max(1L, n) }.max
      val approxP = SparkEntry.queries("q29b_approx_percentiles")(spark, sfDir)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val li = Tables.lineitem(spark, sfDir)
      val rankErr = approxP.keys.flatMap { g =>
        // ties (l_quantity is integer-valued) make a single rank
        // meaningless: the estimate occupies the rank INTERVAL
        // [count(<est), count(<=est)]; error = distance from the target
        // rank p·n to that interval, in n/B units (B = 1000)
        // rank bounds as AGGREGATIONS, never a collect: the old form
        // collected+sorted the group's column driver-side — fine at the
        // bench sf (200k doubles), a ~1 h GC stall at the 300× probe
        // scale (60 M boxed rows per collect × 6). Same math: lo/hi are
        // exact counts either way.
        def err(colName: String, p: Double, est: Double): Double = {
          import org.apache.spark.sql.functions.{sum, when, lit, count}
          import org.apache.spark.sql.functions.coalesce
          // coalesce: a group with ZERO matching rows sums to NULL — the
          // old collect form degraded to NaN there; getLong would NPE
          val r = li.filter(col("l_returnflag") === g).agg(
            coalesce(sum(when(col(colName) < est, 1L).otherwise(0L)), lit(0L)).as("lo"),
            coalesce(sum(when(col(colName) <= est, 1L).otherwise(0L)), lit(0L)).as("hi"),
            count(lit(1)).as("n")).head()
          val lo = r.getLong(0); val hi = r.getLong(1); val n = r.getLong(2)
          if (n == 0L) 0.0 else {
            val target = p * n
            val rows = if (target < lo) lo - target
                       else if (target > hi) target - hi else 0.0
            rows / (n / 1000.0)
          }
        }
        Seq(err("l_quantity", 0.5, approxP(g)._1),
            err("l_extendedprice", 0.9, approxP(g)._2))
      }.max
      def r3(x: Double) = math.rint(x * 1000) / 1000
      // Compact keys — the stdout line must survive the driver's ~2000
      // char tail capture (q10b err = max relative HLL error vs exact;
      // q29b err = max rank-interval distance in n/B units; see
      // EXPLAIN_r7 §8 for the metric definitions).
      // IVF recall/latency curve (round 8, VERDICT r7 #5): recall@10 vs
      // the exact neighborhood for nprobe ∈ {1,2,4}. The exact side is
      // ivfSearch at nprobe=K — probing every cell IS the exact scan
      // (same re-rank, same tie-break), an identity IvfSpec pins.
      val K = graft.operators.IvfIndex.kFor(spark, sfDir)
      def topAt(np: Int): Map[Long, Set[Long]] =
        graft.operators.VectorOps.ivfSearch(spark, sfDir, nprobe = np, k = 10)
          .select("q_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val exactNN = topAt(K)
      // recalls at 2 decimals on the stdout line (full precision never
      // carried more information than the probe count justifies; the
      // 86-query map needs the chars)
      def r2(x: Double) = math.rint(x * 100) / 100
      val recalls = Seq(1, 2, 4).map { np =>
        val ann = topAt(np)
        val r = exactNN.map { case (q, ex) =>
          ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
        np -> r2(r.sum / r.size)
      }
      // PQ recall@3 vs the same exact neighborhood (q66's rerank budget is
      // fixed; the measured recall is the ADC quality evidence — the
      // PqSpec floor is 0.5 on the sf0.01 fixture)
      val pqTop = SparkEntry.queries("q66_pq_ann")(spark, sfDir)
        .select("q_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val exact3 = graft.operators.VectorOps.ivfSearch(spark, sfDir, nprobe = K, k = 3)
        .select("q_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val pqRecall = r2(exact3.map { case (q, ex) =>
        pqTop.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
        .sum / exact3.size)
      // bounds (0.15 rel for q10b, 2.0 n/B rank units for q29b) and the
      // recall k (=10) are documented in EXPLAIN_r8 §attest — kept out of
      // the stdout line to stay inside the driver's ~2000-char tail
      // COMPACT attest (round-8 third session): the 85-query map left no
      // line budget for the nested {err, ok} shape — flat err values +
      // recall arrays; bounds (0.15 / 2.0) and the nprobe order [1,2,4]
      // are documented in EXPLAIN_r8. ok == (err <= bound) by definition.
      // LSH resolution attest (round 14): the live derived bits and the
      // exact candidate-pair count they admit (Σ nC2 over the bucket
      // histogram) — the quantity the N-derived gate holds ~linear in the
      // corpus. Stderr detail line (the stdout line has no char budget);
      // the per-rung recall evidence lives in the LshLadder artifact.
      // candidate count at the JOIN grain — (bucket, extc) cells, i.e.
      // the live operator's own candidate set including the round-15
      // overflow split; max_cell pins the worst cell the split bounds
      val lshBits = graft.operators.LshGate.bits(spark, sfDir)
      val lshHist = graft.operators.VectorOps.lshCodedScan(spark, sfDir, lshBits)
        .groupBy("bucket", "extc").count()
        .agg(org.apache.spark.sql.functions.sum(
               col("count") * (col("count") - 1) / 2).cast("long"),
             org.apache.spark.sql.functions.max(col("count")))
        .head
      System.err.println(
        s"""[bench-detail] {"lsh_bits":$lshBits,"lsh_cand_pairs":${lshHist.getLong(0)},"lsh_max_cell":${lshHist.getLong(1)}}""")
      s""","attest":{"q10b":${r3(relErr)},"q29b":${r3(rankErr)},""" +
        s""""ivf":[${recalls.map(_._2).mkString(",")}],"pq":$pqRecall}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] attestation failed: ${e.getMessage}"); ""
    }
    // no_oracle_excluded moved to the stderr detail line (round-8 third
    // session): the 85-query suite left no stdout budget for it; its value
    // (2: q10b/q29b) is structural, not per-run.
    System.err.println(s"[bench-detail] no_oracle_excluded=${noOracle.size}")
    // "sf" carries the basename only (round-8 fourth session): the full
    // /root/testdata/… path spent 15 chars of the ~1924-char stdout budget
    // saying nothing the basename doesn't; the driver records its own sf
    // field anyway. Bought the room for q65's map entry.
    val sfTag = new java.io.File(sfDir).getName
    // Adjudication evidence IN the parsed artifact (round 16, VERDICT r15
    // #3): the stderr [bench-adjudicate] line can fall outside the
    // driver's ~2000-char stdout tail, leaving a drifted total with no
    // verdict attached (BENCH_r15: +10% with the mechanism's evidence
    // lost). The stdout JSON now always carries the trigger inputs —
    // rulers (vs the 0.2 storm mark) and the spread count — and, when the
    // adjudication fired, each mover's [suite-min, re-read-min] pair
    // (fold == re-read < suite; a slower re-read published here is the
    // documented refusal to fold). Head-token keys + 2 decimals, same
    // line-budget discipline as the queries map.
    val adjJson = adjudicationJson(calibBefore, calibAfter, spreadCount,
      adjMovers, adjMovers.map(nm => nm -> samples(nm).min).toMap,
      adjudicated.toMap, priorBlock)
    // Head-token keys on the stdout line (round 9): "q34", not
    // "q34_ngram_jaccard". The 73-entry full-name map sat 14 chars under
    // the driver's ~1924-char tail-capture cap — every added query forced
    // another ad-hoc trim (rounds 8.3/8.4). Head tokens are unique across
    // the suite (checked here; falls back to full names if that ever
    // breaks), full names stay on the stderr [bench-detail] line and in
    // CORRECTNESS_r*/oracle_sql.json, and the mapping is the obvious
    // prefix. Frees ~1000 chars of budget permanently.
    val heads = gated.map { case (n, v) => n.split("_").head -> v }
    val headsUnique = heads.map(_._1).distinct.size == heads.size
    // the fallback flips the stdout map's key FORMAT (head tokens → full
    // names); a parser built for one breaks on the other, so the flip must
    // be observable, not silent (ADVICE r9)
    if (!headsUnique)
      System.err.println("[bench] WARNING head-token key collision — stdout 'queries' map falls back to FULL-NAME keys this run")
    val outMap = if (headsUnique) heads else gated
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt2s(outMap)}$adjJson$attest,"sf":"$sfTag"}"""
    // hard budget: the driver tails the last 2000 chars and sbt appends a
    // ~90-char [success] trailer after this line
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING stdout line ${line.length} chars > 1900 — may not survive the driver's 2000-char tail capture")
    println(line)
    spark.stop()
  }
}
