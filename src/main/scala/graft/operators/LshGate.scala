package graft.operators

import org.apache.spark.sql.SparkSession

/** N-derived resolution gate for the sign-LSH near-dup join (q42) —
  * round 14, VERDICT r13 #1.
  *
  * WHY: at a FIXED resolution the bucket-local self-join's candidate count
  * grows quadratically with the corpus — at 8 bits (256 buckets) sf30's
  * 600 k vectors produce ~798 M candidate pairs (~51 G FLOP of dot
  * products, EXPLAIN_r13 §3), and 100 TB would be catastrophic. The design
  * was always "bits ∝ N" but the knob lived in documentation; this gate
  * makes it code, like every other scale lever in the engine.
  *
  * DERIVATION: `bits = smallest b in [MinBits, MaxBits] with
  * N ≤ target·2^b` — i.e. the expected bucket occupancy is held at
  * ~`target` rows, so candidate pairs ≈ N·target/2 grow LINEARLY with the
  * corpus (per-unit-data candidate count ~flat; the r14 ladder measures
  * it at sf0.1/1/10/30). The q41 bucket histogram is the sizing
  * instrument that justifies deriving from N alone: it shows the
  * axis-sign codes spread near-uniformly on this whitened corpus, so
  * expected occupancy N/2^b is the right planning quantity. MinBits keeps
  * the small-SF resolution at the historical 8 (sf0.001–sf0.1 outputs
  * unchanged); MaxBits bounds the code width far under the 64 available
  * dimensions.
  *
  * RECALL is the honest other side of the knob: single-band sign-LSH
  * recall against the weak cosine≥0.2 bar is ~1% ALREADY at 8 bits on
  * this near-orthogonal synthetic corpus (measured r14 — 1,304 of
  * 109,676 exact pairs at sf0.1), and more bits retrieve fewer of the
  * marginal pairs. q42 is the candidate-GENERATION operator; recall-
  * critical dedup rides the multi-band families (q35 MinHash bands, q36
  * SimHash fingerprint groups, q68 cell-local SemDeDup). Bench attests
  * the sampled recall at every rung rather than claiming it.
  *
  * ORACLE PARITY: the gate must be reproducible in plain SQL or the
  * oracle can't follow it. [[oracleBitsSql]] emits the SAME derivation as
  * a CASE ladder over `count(*)` (integer thresholds `target·2^b`, no
  * float log2 whose rounding could disagree), and honours the same
  * forced-conf overrides via SPARK_GRAFT_CONF — so the driver's default
  * Verify AND a forced-resolution Verify both hash-match.
  *
  * SKEW (round 15, VERDICT r14 #1): the global derivation holds E[pairs]
  * linear only under near-uniform sign spread — one bucket holding
  * fraction f of N costs ~f²N²/2 pairs at ANY global width (the sf30
  * ladder read cand/row 159 vs the ~16 uniform ideal; a real web corpus
  * concentrates harder — boilerplate IS sign-pattern mass). The fix is
  * extendible-hashing style: a per-bucket occupancy census (tiny —
  * ≤ 2^bits rows, usually far fewer), and any bucket over
  * `splitFactor·target` rows extends its code LOCALLY by
  * [[extBits]] extra sign bits taken from the SUFFIX dims [64−ext, 64)
  * — disjoint from every possible base prefix (bits ≤ 24, ext ≤ 24),
  * so prefix-concentrated mass is discriminated by dims the
  * concentration never touched. The worst bucket's expected occupancy
  * returns to ~target; candidate pairs are bounded by the worst
  * SUB-bucket. The irreducible residual is disclosed honestly: rows
  * identical in ALL 64 sign dims (exact/near-exact duplicates) cannot be
  * separated by any sign code — but those pairs are true near-dups, i.e.
  * OUTPUT, not waste; the split removes the cross-document waste that
  * shared boilerplate prefixes create. Recall inside a split bucket is
  * the knob's other side (pairs straddling sub-buckets are lost) — the
  * ladder attests it per rung, like the r14 resolution gate.
  *
  * Confs:
  *  - `graft.lsh.bits` (>0 forces the resolution; 0/unset derives)
  *  - `graft.lsh.targetBucketRows` (expected bucket occupancy the
  *    derivation holds; default 32)
  *  - `graft.lsh.splitFactor` (a bucket with more than factor·target
  *    rows splits locally; 0 disables the split; default 4)
  */
object LshGate {

  val MinBits = 8
  val MaxBits = 24
  val DefaultTargetRows = 32L
  val DefaultSplitFactor = 4L

  /** Extension-width cap: suffix dims [64−ext, 64) must stay disjoint
    * from the base prefix [0, bits) for any bits ≤ MaxBits, and 24 extra
    * bits (16 M sub-buckets for ONE hot bucket) is beyond any occupancy
    * the census can justify splitting further. */
  val MaxExtBits = 24

  /** Smallest b in [MinBits, MaxBits] with n ≤ target·2^b. */
  def derivedBits(n: Long, target: Long = DefaultTargetRows): Int =
    (MinBits to MaxBits).find(b => n <= (target << b)).getOrElse(MaxBits)

  def targetRows(s: SparkSession): Long =
    s.conf.getOption("graft.lsh.targetBucketRows")
      .map(_.toLong).getOrElse(DefaultTargetRows)

  def splitFactor(s: SparkSession): Long =
    s.conf.getOption("graft.lsh.splitFactor")
      .map(_.toLong).getOrElse(DefaultSplitFactor)

  /** Usable extension width under base resolution `bits` (constant
    * MaxExtBits for every derivable width; the 64−bits term guards a
    * hand-forced resolution wider than MaxBits). */
  def maxExtFor(bits: Int): Int = math.min(MaxExtBits, math.max(0, 64 - bits))

  /** Local extension width for a bucket of `n` rows: 0 under the trigger
    * (n ≤ factor·target — no split), else the smallest e with
    * n ≤ target·2^e, clamped to [1, maxExt]. Mirrors [[extLadderSql]]
    * EXACTLY (the unbounded ladder runs to 40 arms, then LEAST-clamps —
    * same shape in both dialects, spec-pinned). */
  def extBits(n: Long, target: Long = DefaultTargetRows,
              factor: Long = DefaultSplitFactor,
              maxExt: Int = MaxExtBits): Int =
    if (factor <= 0 || n <= factor * target) 0
    else math.min(
      (1 to 40).find(e => n <= (target << e)).getOrElse(40), maxExt)

  /** The live resolution for the corpus at `d`: forced conf if set, else
    * derived from the footer row count (metadata-only, memoized). */
  def bits(s: SparkSession, d: String): Int = {
    val forced = s.conf.getOption("graft.lsh.bits").map(_.toInt).getOrElse(0)
    if (forced > 0) forced
    else derivedBits(graft.Tables.embeddingsCount(s, d), targetRows(s))
  }

  /** Spark-SQL sign-bucket code over the first `bits` dimensions. */
  def sparkBucketExpr(bits: Int): String =
    s"""aggregate(sequence(0, ${bits - 1}),
         0, (acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > CAST(0 AS FLOAT)
                                   THEN CAST(shiftleft(1, i) AS INT) ELSE 0 END)"""

  /** DuckDB sign-bucket code; `bitsRef` is a SQL reference (column or
    * literal) holding the resolution. */
  def duckBucketExpr(bitsRef: String): String =
    s"""list_reduce(list_transform(generate_series(0, $bitsRef - 1),
         i -> CASE WHEN embedding[i + 1] > 0 THEN (1 << i) ELSE 0 END), (acc, v) -> acc + v)"""

  // ---- per-bucket overflow split (round 15) ----------------------------

  /** ANSI CASE ladder for [[extBits]] over `nRef` (a SQL reference to the
    * bucket's row count): trigger arm first (≤ factor·target → 0), then
    * the unbounded smallest-e ladder, LEAST-clamped to `maxExtRef`. Pure
    * integer arithmetic, identical text runs in Spark SQL and DuckDB —
    * the same no-float-divergence discipline as [[oracleBitsSql]]. */
  def extLadderSql(nRef: String, target: Long, factor: Long,
                   maxExtRef: String): String =
    if (factor <= 0) "0"
    else {
      val arms = (1 to 40)
        .map(e => s"WHEN $nRef <= ${target << e} THEN $e").mkString(" ")
      s"CAST(LEAST(CASE WHEN $nRef <= ${factor * target} THEN 0 $arms " +
        s"ELSE 40 END, $maxExtRef) AS INT)"
    }

  /** Spark-SQL extension code over the SUFFIX dims [64−ext, 64), given
    * `extRef` (a column holding the bucket's extension width; 0 → code 0).
    * Suffix dims are disjoint from any base prefix (see scaladoc), so a
    * prefix-concentrated bucket is split by dims the concentration never
    * constrained. */
  def sparkExtCodeExpr(extRef: String): String =
    s"""CASE WHEN $extRef <= 0 THEN CAST(0 AS BIGINT)
         ELSE aggregate(sequence(64 - $extRef, 63),
           CAST(0 AS BIGINT),
           (acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > CAST(0 AS FLOAT)
                                  THEN shiftleft(CAST(1 AS BIGINT), i - (64 - $extRef))
                                  ELSE CAST(0 AS BIGINT) END) END"""

  /** DuckDB twin of [[sparkExtCodeExpr]] — same suffix dims, same fold
    * order, BIGINT code. */
  def duckExtCodeExpr(extRef: String): String =
    s"""CASE WHEN $extRef <= 0 THEN CAST(0 AS BIGINT)
         ELSE list_reduce(list_transform(generate_series(64 - $extRef, 63),
           i -> CASE WHEN embedding[i + 1] > 0
                     THEN (CAST(1 AS BIGINT) << (i - (64 - $extRef)))
                     ELSE CAST(0 AS BIGINT) END), (acc, v) -> acc + v) END"""

  // ---- banded codes (round 16) -----------------------------------------

  /** Band count / window width for the BANDED sign-LSH family (q78,
    * round 16, VERDICT r15 #1): the 64 dims split into [[Bands]] disjoint
    * windows of [[BandWidth]] dims; band j's base code reads the sign
    * bits of window j, so a pair colliding in ANY band is a candidate —
    * the classic multi-band recall amplification (1 − Π(1 − p_j)), which
    * the r15 multi-probe negative showed is the ONLY structural way to
    * buy back the recall the overflow split costs on concentrated
    * corpora. Each band is split-bounded independently: its census runs
    * at the band's own code, and its extension bits come from the NEXT
    * window (cyclic) — disjoint from the band's base dims by
    * construction, so concentrated mass is discriminated by dims the
    * concentration never touched, exactly the suffix-dim argument at
    * band grain. Per-band resolution = min(gate bits, BandWidth): a
    * 16-dim window caps at 16 base bits; past N ≈ target·2^16 per-band
    * occupancy grows with N and the overflow split carries the
    * discrimination (up to 16 ext bits — 32 bits/band total). */
  val Bands = 4
  val BandWidth = 16

  /** Per-band base resolution under gate resolution `bits`. */
  def bandBits(bits: Int): Int = math.min(bits, BandWidth)

  /** Spark-SQL sign code over dims [off, off+bb) — [[sparkBucketExpr]] is
    * the off=0 instance. */
  def sparkBandBucketExpr(off: Int, bb: Int): String =
    s"""aggregate(sequence($off, ${off + bb - 1}),
         0, (acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > CAST(0 AS FLOAT)
                                   THEN CAST(shiftleft(1, i - $off) AS INT) ELSE 0 END)"""

  /** DuckDB twin of [[sparkBandBucketExpr]]; `bbRef` is a SQL reference
    * holding the band's resolution (the window offset is a literal). */
  def duckBandBucketExpr(off: Int, bbRef: String): String =
    s"""list_reduce(list_prepend(0, list_transform(generate_series($off, $off + $bbRef - 1),
         i -> CASE WHEN embedding[i + 1] > 0 THEN (1 << (i - $off)) ELSE 0 END)), (acc, v) -> acc + v)"""

  /** Spark-SQL extension code for band `j`: `ext` sign bits from the
    * START of the next window (cyclic) — dims [extOff, extOff+ext),
    * ext ≤ BandWidth, disjoint from band j's base dims. */
  def sparkBandExtCodeExpr(extOff: Int, extRef: String): String =
    s"""CASE WHEN $extRef <= 0 THEN CAST(0 AS BIGINT)
         ELSE aggregate(sequence($extOff, $extOff + $extRef - 1),
           CAST(0 AS BIGINT),
           (acc, i) -> acc + CASE WHEN element_at(embedding, i + 1) > CAST(0 AS FLOAT)
                                  THEN shiftleft(CAST(1 AS BIGINT), i - $extOff)
                                  ELSE CAST(0 AS BIGINT) END) END"""

  /** DuckDB twin of [[sparkBandExtCodeExpr]]. */
  def duckBandExtCodeExpr(extOff: Int, extRef: String): String =
    s"""CASE WHEN $extRef <= 0 THEN CAST(0 AS BIGINT)
         ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series($extOff, $extOff + $extRef - 1),
           i -> CASE WHEN embedding[i + 1] > 0
                     THEN (CAST(1 AS BIGINT) << (i - $extOff))
                     ELSE CAST(0 AS BIGINT) END)), (acc, v) -> acc + v) END"""

  /** The next window's start — band j's extension dims (cyclic). */
  def bandExtOff(j: Int): Int = ((j + 1) % Bands) * BandWidth

  // ---- oracle-side derivation ------------------------------------------

  // The oracle SQL is rendered in the same JVM that runs the Spark
  // queries (Verify), so the forced-conf hook is the same SPARK_GRAFT_CONF
  // environment both sides see.
  private lazy val envConf: Map[String, String] =
    graft.GraftSession.confOverrides.toMap

  /** Env-rendered conf for oracle-side derivations OUTSIDE the gate —
    * the same SPARK_GRAFT_CONF hook, shared so every dial that must keep
    * its DuckDB oracle in sync (q79's np and pre-filter) reads the one
    * map the Spark side's forced run was launched with. */
  def envConfGet(k: String): Option[String] = envConf.get(k)

  /** SQL expression for the resolution, given `c` = corpus row count in
    * scope: a forced `graft.lsh.bits` renders as a literal; otherwise the
    * derivation's integer CASE ladder (bit-identical thresholds to
    * [[derivedBits]] — spec-pinned across the whole ladder). */
  def oracleBitsSql: String = {
    val forced = envConf.get("graft.lsh.bits").map(_.toInt).getOrElse(0)
    if (forced > 0) forced.toString
    else {
      val target = envConf.get("graft.lsh.targetBucketRows")
        .map(_.toLong).getOrElse(DefaultTargetRows)
      val arms = (MinBits until MaxBits)
        .map(b => s"WHEN c <= ${target << b} THEN $b").mkString(" ")
      s"CASE $arms ELSE $MaxBits END"
    }
  }

  /** SQL expression for a bucket's extension width, given `nRef` = the
    * bucket's row count in scope — [[extLadderSql]] rendered under the
    * same SPARK_GRAFT_CONF overrides the Spark side reads, so forced and
    * default Verify runs both hash-match through the split. The maxExt
    * clamp renders as a LITERAL: a forced resolution is known at render
    * time, and every DERIVABLE resolution (≤ MaxBits=24) has the same
    * maxExt (=MaxExtBits — 64−24 ≥ 24), so no SQL-side bits reference is
    * needed. */
  def oracleExtSql(nRef: String): String = {
    val forced = envConf.get("graft.lsh.bits").map(_.toInt).getOrElse(0)
    val maxExt = if (forced > 0) maxExtFor(forced) else MaxExtBits
    val target = envConf.get("graft.lsh.targetBucketRows")
      .map(_.toLong).getOrElse(DefaultTargetRows)
    val factor = envConf.get("graft.lsh.splitFactor")
      .map(_.toLong).getOrElse(DefaultSplitFactor)
    extLadderSql(nRef, target, factor, maxExt.toString)
  }

  /** Band-grain twin of [[oracleExtSql]]: the same env-conf ladder with
    * the extension clamped to the band window width — a band's extension
    * dims are exactly the next window's [[BandWidth]] dims. */
  def oracleBandExtSql(nRef: String): String = {
    val target = envConf.get("graft.lsh.targetBucketRows")
      .map(_.toLong).getOrElse(DefaultTargetRows)
    val factor = envConf.get("graft.lsh.splitFactor")
      .map(_.toLong).getOrElse(DefaultSplitFactor)
    extLadderSql(nRef, target, factor, BandWidth.toString)
  }
}
