package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.functions.DotProduct.register

/** IVF (inverted-file) ANN index over the embeddings table, split the way a
  * 100 TB deployment must be: an INDEX-BUILD job that trains the coarse
  * quantizer and persists it, and a SEARCH path that only reads the index
  * (see VectorOps.q46_ivf_ann).
  *
  * Build: deterministic k-means (init = the k lowest-id training vectors,
  * fixed Lloyd iterations, ties to the smaller centroid id), then one final
  * assignment pass of the FULL corpus against the FINAL centroids,
  * persisted as
  *   - `centroids.parquet`  — (cid INT, cv ARRAY<DOUBLE>), ≤ k rows
  *   - `assignments/`       — (vec_id, v, norm) partitioned by cid: the
  *     cell-partitioned layout, so a search reading nprobe cells touches
  *     only ~nprobe/K of the corpus (partition pruning on cid)
  *
  * The per-iteration centroid collect is the standard k-means-on-Spark
  * lineage cut — K×dim doubles, bounded by K, never by data size — and it
  * runs at BUILD time only; queries never train.
  *
  * Persisted centroids are the oracle boundary: the search (assignment of
  * every vector to its nearest persisted centroid + nprobe probe cells +
  * exact cosine re-rank) is plain SQL over the centroids table, so DuckDB
  * can replay it bit-for-bit — q46 is hash-checked, not rows-only. Any
  * K/Iters/sampling choice below changes WHICH index is built, never
  * whether the oracle matches: the replay always starts from what was
  * persisted.
  */
object IvfIndex {

  /** Coarse-quantizer sizing (round 10, VERDICT r9 #2 — the one open
    * scale item): K grows with the corpus, K(N) = ⌈N / CellTarget⌉, so
    * the per-cell population — and every per-cell cost built on it: q68
    * semdedup's in-cell pair term (~cell²·K = N·cell), a probe's scan
    * share (nprobe·cell rows) — stays ~CellTarget instead of growing
    * N/K. This is what SemDeDup-style deployments do (cluster count
    * scales to hold cells at a workable size; ~10⁵ clusters for web-scale
    * corpora). MinK floors tiny fixtures and the driver's sf≤0.1 tables
    * (N ≤ 2000 ⇒ K = 16, identical to the round-≤9 index) so the
    * correctness surface is unchanged; growth engages from ~8k vectors. */
  val MinK = 16
  val CellTarget = 512
  val Iters = 3
  val NProbe = 2
  /** Lloyd trains on a deterministic stride sample of ~SamplePerCell
    * vectors per centroid (the FAISS practice: training needs a
    * representative sample, not the corpus — full-corpus Lloyd at K∝N is
    * O(N²/CellTarget) distance work). The FINAL assignment pass always
    * covers the full corpus. */
  val SamplePerCell = 64

  def kFor(n: Long): Int =
    math.max(MinK.toLong, (n + CellTarget - 1) / CellTarget).toInt
  /** K for `sfDir`'s embeddings table (footer row count — metadata only). */
  def kFor(s: SparkSession, sfDir: String): Int =
    kFor(graft.Tables.embeddingsCount(s, sfDir))

  /** Index location derived from the build inputs (sfDir, k, iters): each
    * configuration owns its directory, so a run for one sf can never
    * silently swap the centroids out from under another sf's oracle
    * replay (the round-2 fixed `current/` path rebuilt in place on
    * mismatch — racy across JVMs and across a Verify run vs the driver's
    * later DuckDB read). The oracle SQL carries an `__IVF__` placeholder
    * that Verify resolves via [[indexDirFor]] at dump time. */
  /** Build-algorithm tag, part of the content address: a change to HOW the
    * index is built (sampling scheme, assignment pruning) must not serve a
    * stale directory built by the previous algorithm — the _meta check
    * alone would pass, because meta only records (sfDir, k, iters). b2 =
    * hash-stride training sample (round 11, ADVICE fix); b3 = column-mean
    * Lloyd recompute + centroid-space-pruned assignment (round 11 — the
    * means are the same reals, but a different float association order
    * must not share a directory with the old form). */
  val BuildTag = "b4" // b4: scale-aware prune ε (margin covers expanded-dot float error)

  /** Two-level centroid-tree build mode (round 17, VERDICT r16 #4): the
    * flat build's lineage cut collects K×dim doubles to the driver per
    * Lloyd iteration and broadcasts them for assignment — LINEAR in N at
    * K = N/CellTarget (IvfProbe measures 2.39 KB of boxed driver heap
    * per centroid at sf30, 4.7× the 512-byte raw floor ⇒ the ~1 GiB
    * comfort line crosses near N ≈ 2×10⁸ vectors, and a 100 TB corpus
    * of 64-dim floats extrapolates to ~1.7 TB of driver heap — the
    * probe artifact IVF_PROBE_r17.jsonl). Tree mode bounds the driver
    * and the broadcast at O(√K): train ⌈√K⌉ COARSE centroids (the only
    * driver-resident set), then per-coarse-cell sub-quantizers trained
    * DISTRIBUTED (each cell's sample fits a task), assignment = two
    * bounded top-1s (broadcast coarse → min_by ccid; shuffle-join the
    * ccid-keyed sub-centroids → min_by (d2, cid)). The persisted index
    * gains `coarse.parquet` and a `ccid` column on centroids; the oracle
    * replays the SAME two-stage argmin from the persisted tree (env-
    * rendered, the np/prefilter discipline), so forced runs stay
    * hash-checked. EXPLICIT-ONLY dial (`graft.ivf.tree=1`): default off
    * at every test scale so standard artifacts are unchanged; a 100 TB
    * deployment flips it when K×dim×8 approaches its broadcast budget.
    * Tree assignment ≠ flat assignment near coarse-cell boundaries (a
    * vector's nearest sub-centroid can live in a non-nearest coarse
    * cell) — that is IVF-tree semantics, not an approximation bug, and
    * IvfTreeSpec pins the two-stage selection identity exactly.
    *
    * AUTO-DEFAULT past the measured driver wall (round 18, VERDICT r17
    * #9): with the dial UNSET, tree mode engages once K = kFor(N) reaches
    * [[AutoTreeK]] (knob `graft.ivf.tree.autoK`). The default flip point
    * comes from IVF_PROBE_r17's measured slope — 2,393 boxed driver bytes
    * per centroid — so K = 250,000 holds ~0.6 GiB driver-resident,
    * comfortably under the ~1 GiB line the probe drew, and corresponds to
    * N ≈ 1.3×10⁸ vectors (the probe's "flat is untenable past ~10⁸–10⁹"
    * conclusion). Every test/bench scale sits orders of magnitude below
    * (K=1,172 at the sf30 probe rung), so standard artifacts are
    * unchanged; an explicit `graft.ivf.tree=0|1` always wins. NOTE for
    * oracle-checked runs at auto-flip scale: the DuckDB replay text is
    * env-rendered ([[oracleTreeOn]]), so a deployment verifying a
    * >AutoTreeK corpus must set the dial EXPLICITLY (both sides then
    * render the tree replay); an auto flip with the dial unset fails the
    * gate loudly (flat replay against a tree directory) rather than
    * passing silently — the auto path's selection identity is pinned by
    * IvfTreeSpec instead. */
  def AutoTreeK(s: SparkSession): Int =
    s.conf.getOption("graft.ivf.tree.autoK").map(_.toInt).getOrElse(250000)
  def treeOn(s: SparkSession, sfDir: String): Boolean =
    s.conf.getOption("graft.ivf.tree") match {
      case Some(v) => v == "1" || v == "true"
      case None    => kFor(s, sfDir) >= AutoTreeK(s)
    }
  /** Oracle-side render of the same dial (LshGate.envConf pattern). */
  def oracleTreeOn: Boolean =
    LshGate.envConfGet("graft.ivf.tree").exists(v => v == "1" || v == "true")
  def kcFor(k: Int): Int = math.ceil(math.sqrt(k.toDouble)).toInt

  def indexDir(sfDir: String, k: Int, iters: Int = Iters,
               tree: Boolean = false): String = {
    val tag = if (tree) s"$BuildTag|tree" else BuildTag
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|$k|$iters|$tag".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"/root/repo/target/ivf_index/$h"
  }

  /** The directory [[ensure]] resolves for `sfDir` — K derived from the
    * data, so callers (Verify's `__IVF__` substitution) agree with the
    * build without carrying K around. */
  def indexDirFor(s: SparkSession, sfDir: String): String =
    indexDir(sfDir, kFor(s, sfDir), Iters, treeOn(s, sfDir))

  private val VECD = "transform(embedding, x -> CAST(x AS DOUBLE))"
  /** Native codegen'd sqdist (functions.SqDist) — bit-identical left fold
    * to the composed aggregate/zip_with form it replaced (and to the
    * oracle's list_reduce), without the per-row interpreted lambdas +
    * intermediate array that dominated the sf30 build's scoring. */
  private def sqdist = graft.functions.SqDist.sq_dist(col("v"), col("cv"))

  /** Nearest-centroid assignment, AGGREGATION form: `min_by` over the
    * (d2, cid) order — selection-identical to the oracle's ROW_NUMBER
    * replay (same sqdist doubles, same smaller-cid tie order; both pick
    * the (d2, cid)-minimum) but it partially aggregates map-side: the
    * N×K distance rows collapse to one row per vector BEFORE any
    * exchange. The round-≤9 window form shuffled all N×K rows to rank
    * them — fine at K=16, a non-starter once K∝N. */
  private[graft] def assign(vecs: DataFrame, cent: DataFrame): DataFrame = {
    graft.functions.Natives.registerAll(vecs.sparkSession)
    vecs.crossJoin(broadcast(cent))
      .withColumn("d2", sqdist)
      .groupBy("vec_id")
      .agg(min_by(struct(col("v"), col("cid")),
                  struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.cid").as("cid"))
  }

  // ------------------------- centroid-space pruning for the build (r11)
  /** Below this K the exhaustive crossJoin is cheaper than the two-level
    * pass (and all driver testdata sfs sit below it — K = 16 — so the
    * correctness surface runs the reference form). */
  val PruneMinK = 64

  /** K-means over the CENTROIDS themselves, driver-side (K×dim doubles —
    * the same bounded lineage-cut scale as the Lloyd collect): ⌈√K⌉
    * super-centroids, deterministic (init = lowest-cid centroids, fixed
    * iterations, ties to the smaller sid). Returns the populated supers
    * as (sid, sv, |sv|², radius) with radius = max member distance —
    * the triangle-inequality bound [[assignPruned]] prunes with. */
  private def superCluster(cent: Seq[(Int, Seq[Double])])
      : (Seq[(Int, Seq[Double], Double, Double)], Map[Int, Int]) = {
    val sorted = cent.sortBy(_._1)
    val pts = sorted.map(_._2.toArray).toArray
    val nS = math.ceil(math.sqrt(pts.length.toDouble)).toInt
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    var sv = Array.tabulate(nS)(j => pts(j).clone())
    val member = new Array[Int](pts.length)
    def assignAll(): Unit = {
      var p = 0
      while (p < pts.length) {
        var best = 0; var bestD = d2(pts(p), sv(0)); var j = 1
        while (j < nS) {
          val dj = d2(pts(p), sv(j))
          if (dj < bestD) { bestD = dj; best = j } // strict < ⇒ smaller sid ties
          j += 1
        }
        member(p) = best; p += 1
      }
    }
    for (_ <- 1 to 5) {
      assignAll()
      val sums = Array.fill(nS)(new Array[Double](dim))
      val cnts = new Array[Int](nS)
      for (p <- pts.indices) {
        val j = member(p); cnts(j) += 1
        var i = 0; while (i < dim) { sums(j)(i) += pts(p)(i); i += 1 }
      }
      sv = Array.tabulate(nS)(j =>
        if (cnts(j) == 0) sv(j) // empty keeps its previous center
        else { val m = sums(j); var i = 0
               while (i < dim) { m(i) /= cnts(j); i += 1 }; m })
    }
    // FINAL membership against the FINAL positions — radius and the
    // cid→sid map must come from the same pass, or a centroid could sit
    // outside its super's recorded radius and break the prune bound
    assignAll()
    val supers = (0 until nS).flatMap { j =>
      val members = pts.indices.filter(member(_) == j)
      if (members.isEmpty) None
      else {
        val r = members.map(p => math.sqrt(d2(pts(p), sv(j)))).max
        Some((j, sv(j).toSeq, sv(j).map(x => x * x).sum, r))
      }
    }
    (supers, sorted.indices.map(p => sorted(p)._1 -> member(p)).toMap)
  }

  /** Two-level EXACT assignment — selection-identical to [[assign]], with
    * the N×K distance term cut to N×(√K + candidate cells). Per vector:
    * distances to the ⌈√K⌉ supers (codegen'd dot-product form — pruning
    * only needs valid bounds, not the reference arithmetic), an upper
    * bound ub = min(dˢ + r), then only supers with dˢ − r ≤ ub can hold
    * the nearest centroid (triangle inequality; ε-margin absorbs float
    * rounding in the BOUND — the surviving candidates are re-scored with
    * the exact same sqdist/(d2, cid) min_by as `assign`, so ties and the
    * argmin are bit-identical, spec-pinned in IvfPruneSpec). At K∝N this
    * turns the build's final pass from O(N²/CellTarget) into
    * O(N·√(N/CellTarget)) — the EXPLAIN_r10 §1 residual. */
  private[graft] def assignPruned(vecs0: DataFrame,
                                  cent: Seq[(Int, Seq[Double])]): DataFrame = {
    val sp = vecs0.sparkSession
    import sp.implicits._
    register(sp)
    graft.functions.Natives.registerAll(sp)
    val (supers, cidSid) = superCluster(cent)
    val maxSuperNorm = supers.map(s => math.sqrt(s._3)).max
    val cent2 = broadcast(
      cent.map { case (cid, cv) => (cidSid(cid), cid, cv) }
        .toDF("sid", "cid", "cv"))
    val supersLit = typedlit(supers) // array<struct<_1 sid,_2 sv,_3 |sv|²,_4 r>>
    val dp = graft.functions.DotProduct.dot_product _
    vecs0
      .withColumn("nv", dp(col("v"), col("v")))
      .withColumn("ds", transform(supersLit, sup => struct(
        sqrt(greatest(col("nv") + sup.getField("_3")
          - lit(2.0) * dp(col("v"), sup.getField("_2")), lit(0.0))).as("d"),
        sup.getField("_1").as("sid"), sup.getField("_4").as("r"))))
      .withColumn("ub",
        array_min(transform(col("ds"), x => x.getField("d") + x.getField("r"))))
      // ε must dominate the float error of the EXPANDED super distances,
      // which is absolute, not relative: err(d²) ≤ ~dim·ulp·(|v|+|s|)²,
      // and near d=0 the sqrt inflates that to err(d) ≤ √(dim·ulp)·
      // (|v|+|s|) ≈ 1.2e-7·(|v|+|s|) at dim 64 — orders above the old
      // 1e-9-relative margin when ub is small. Two noisy distances enter
      // the comparison (the candidate's and ub's minimizer), so the
      // margin is 5e-7·(|v| + max|s| + 1): ≥4× the worst-case combined
      // error at any magnitude, still ~1e-6-loose (a handful of extra
      // survivors, re-scored exactly — selection unchanged).
      .withColumn("cand", filter(col("ds"), x =>
        x.getField("d") - x.getField("r") <= col("ub") +
          lit(5e-7) * (sqrt(col("nv")) + lit(maxSuperNorm + 1.0))))
      .select(col("vec_id"), col("v"), col("nv"),
        explode(transform(col("cand"), x => x.getField("sid"))).as("sid"))
      .join(cent2, "sid")
      .withColumn("d2", sqdist) // EXACT reference arithmetic for survivors
      .groupBy("vec_id")
      .agg(min_by(struct(col("v"), col("cid")),
                  struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.cid").as("cid"))
  }

  /** Dispatch: exhaustive below [[PruneMinK]], two-level above. */
  private[graft] def assignVia(vecs: DataFrame,
                               cent: Seq[(Int, Seq[Double])]): DataFrame =
    if (cent.size < PruneMinK) {
      val sp = vecs.sparkSession
      import sp.implicits._
      assign(vecs, cent.toDF("cid", "cv"))
    } else assignPruned(vecs, cent)

  // ---------------------- top-np cell membership (round 16, q79's core)

  /** Top-`np` nearest-cell memberships as exploded (vec_id, cid) rows —
    * multi-assignment's expansion (q79): bounded map-side top-k over the
    * N×K distance rows, ordered (d2 asc, cid asc) exactly like the
    * oracle's ROW_NUMBER replay. Deliberately EXHAUSTIVE: a top-np
    * generalization of [[assignPruned]]'s centroid-space prune (ub_np =
    * np-th smallest super d+r) was built, spec-pinned selection-identical,
    * and MEASURED SLOWER at the 600k/K=1172 rung — 97.7 s vs 88.5 s for
    * the whole q79 — because the prune's per-row machinery (a 35-element
    * transform lambda of super distances + array_sort + filter + explode
    * + a survivors join) runs interpreted while the exhaustive N×K pass
    * is one native codegen'd sq_dist loop, and replica-corpus template
    * mass keeps super radii wide (weak pruning). The negative is recorded
    * here so the next scale push re-measures instead of assuming; the
    * rank-1 build prune (assignPruned) remains measured-positive and in
    * use. */
  private[graft] def topCells(vecs: DataFrame, cent: DataFrame,
                              np: Int): DataFrame = {
    graft.functions.Natives.registerAll(vecs.sparkSession)
    vecs.crossJoin(broadcast(cent))
      .withColumn("d2", sqdist)
      .groupBy("vec_id")
      .agg(graft.functions.TopKByScore.top_k_by_score(np)(
        -col("d2"), col("cid"), org.apache.spark.sql.functions.lit(0)).as("top"))
      // the aggregator's id slot is LONG — cast back to the cid INT
      // contract the assignments/centroids tables carry (explode first:
      // generators can't nest inside expressions)
      .select(col("vec_id"), explode(col("top._2")).as("cidL"))
      .select(col("vec_id"),
        col("cidL").cast(org.apache.spark.sql.types.IntegerType).as("cid"))
  }

  /** Deterministic in-memory Lloyd over one cell's sample rows (the tree
    * build's distributed half — runs INSIDE a task, one cell per group):
    * init = the `k` lowest-id rows (caller pre-sorts by vec_id), strict-<
    * assignment (ties to the smaller centroid index), per-component mean
    * recompute, empty cells keep their previous center — the same
    * discipline as [[superCluster]], pinned in IvfTreeSpec. */
  private[graft] def localKMeans(pts: Array[Array[Double]], k: Int,
                                 iters: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    var cv = Array.tabulate(k)(j => pts(j).clone())
    val member = new Array[Int](pts.length)
    def assignAll(): Unit = {
      var p = 0
      while (p < pts.length) {
        var best = 0; var bestD = d2(pts(p), cv(0)); var j = 1
        while (j < k) {
          val dj = d2(pts(p), cv(j))
          if (dj < bestD) { bestD = dj; best = j }
          j += 1
        }
        member(p) = best; p += 1
      }
    }
    for (_ <- 1 to iters) {
      assignAll()
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      for (p <- pts.indices) {
        val j = member(p); cnts(j) += 1
        var i = 0; while (i < dim) { sums(j)(i) += pts(p)(i); i += 1 }
      }
      cv = Array.tabulate(k)(j =>
        if (cnts(j) == 0) cv(j)
        else { val m = sums(j); var i = 0
               while (i < dim) { m(i) /= cnts(j); i += 1 }; m })
    }
    cv
  }

  /** Corpus prep + deterministic training sample, shared by both builds.
    *
    * The O(N·K) assignment stage must parallelize by CPU budget, not by
    * input file layout: a compacted corpus (few large parquet files ⇒ few
    * splits) otherwise serializes the dominant stage onto a handful of
    * tasks (observed at sf30: 101 MB in 5 files ⇒ ≤5 tasks busy on a
    * 32-thread box for a 703M-distance-row stage). One corpus shuffle —
    * O(N) rows, amortized against O(N·K) distance work — buys full
    * parallelism; skipped when the scan already splits wide enough.
    *
    * Training sample: ~1/stride of vec_ids selected by HASH, not raw
    * modulo — `vec_id % stride === 0` assumes ids are dense from 0 (an id
    * space all ≡ 1 mod stride would yield an EMPTY sample); hashing
    * decorrelates selection from any id-assignment pattern while staying
    * a pure function of vec_id (same sample at any partitioning).
    * xxhash64 never reaches an oracle-checked output here: it only picks
    * WHICH vectors train the quantizer, and the oracle replays from the
    * persisted centroids regardless. (stride = 1 below ~SamplePerCell·k
    * vectors ⇒ sample = corpus, today's test sfs.) The sample is
    * PERSISTED: init + every Lloyd iteration is an ACTION, and without
    * the cache each one re-pays the corpus scan AND the widening shuffle
    * (measured at sf30: the scan/shuffle replays, not the distance math,
    * dominated training). Caller unpersists after training. */
  private def corpusAndSample(s: SparkSession, sfDir: String,
                              k: Int): (DataFrame, DataFrame, Long) = {
    val n = graft.Tables.embeddingsCount(s, sfDir)
    val raw = embeddings(s, sfDir).select(col("vec_id"), expr(VECD).as("v"))
    val para = s.sparkContext.defaultParallelism
    val vecs =
      if (raw.rdd.getNumPartitions >= para) raw else raw.repartition(para * 2)
    val stride = math.max(1L, n / (k.toLong * SamplePerCell))
    val trainVecs =
      (if (stride == 1L) vecs
       else vecs.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (vecs, trainVecs, stride)
  }

  /** The driver-anchored Lloyd loop — the flat build at k = K, the tree
    * build's COARSE stage at k = Kc: init = the k lowest-id training
    * vectors, fixed iterations, ties to the smaller centroid id; the
    * per-iteration centroid collect is k×dim doubles — the lineage cut
    * whose growth at K ∝ N is exactly what [[treeOn]] bounds to √K. */
  private def lloyd(s: SparkSession, trainVecs: DataFrame, k: Int,
                    iters: Int): Seq[(Int, Seq[Double])] = {
    import s.implicits._
    val init = trainVecs.orderBy("vec_id").limit(k)
      .select(col("v")).as[Seq[Double]].collect()
    // A sparse/skewed id space could still undersize the sample; fail loud
    // rather than silently training fewer centroids than _meta records.
    require(init.length == k,
      s"IVF init needs $k training vectors, sample yielded ${init.length} " +
        "— corpus too small for k or sampling skewed")
    var centArr: Seq[(Int, Seq[Double])] = init.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq
    val dim = init.head.length
    for (it <- 1 to iters) {
      val t0 = System.nanoTime()
      // assignVia: exhaustive at small K, centroid-space-pruned at K∝N
      // scale — selection-identical either way (IvfPruneSpec)
      val a = assignVia(trainVecs, centArr)
      // per-component means in ONE partially-aggregated groupBy (dim avg
      // columns): the round-≤10 posexplode form shuffled sample×dim rows
      // per iteration to average them — the exchange, not the distance
      // math, was the training bottleneck at sf30
      val newCent = a.groupBy("cid")
        .agg(avg(col("v")(0)).as("m0"),
             (1 until dim).map(i => avg(col("v")(i)).as(s"m$i")): _*)
        .select(col("cid"), array((0 until dim).map(i => col(s"m$i")): _*).as("cv"))
      centArr = newCent.as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
      System.err.println(f"[ivf-build] lloyd k=$k iter $it: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    centArr
  }

  /** The two-level build (see [[treeOn]] for why): driver heap and
    * broadcast payload bounded at O(√K · dim) instead of O(K · dim).
    *
    *  1. coarse Lloyd at Kc = ⌈√K⌉ on the stride sample — the ONLY
    *     driver-resident centroid set
    *  2. per-coarse-cell sub-quantizers trained DISTRIBUTED: the sample
    *     shuffles once by ccid; inside each task [[localKMeans]] trains
    *     k_cell = ⌈cell-pop/CellTarget⌉ sub-centroids (a cell's sample is
    *     ~|sample|/Kc rows — task-sized by construction)
    *  3. global dense cids: per-cell sub COUNTS (Kc ints — bounded)
    *     collect to compute offsets; cid = offset(ccid) + sub index; the
    *     K-row centroid table is written DISTRIBUTED, never collected
    *  4. final assignment = two bounded top-1s: broadcast coarse →
    *     min_by (d2, ccid), then a ccid-keyed shuffle join against the
    *     sub-centroids → min_by (d2, cid). Each vector meets only its
    *     coarse cell's ~√K subs — O(N·√K) distance work, and partial
    *     aggregation collapses the fan-out before any exchange.
    *
    * Tree assignment differs from flat near coarse boundaries (a
    * vector's globally-nearest sub-centroid can live in a coarse cell
    * that is not its nearest) — IVF-tree semantics, shared by every
    * hierarchical-quantizer deployment; the oracle replays the SAME
    * two-stage argmin from the persisted coarse + centroid tables
    * (VectorOps.ivfMembersSql), so forced runs stay hash-checked, and
    * IvfTreeSpec pins the selection identity against an independent
    * recompute. */
  private def buildTree(s: SparkSession, sfDir: String, indexDir: String,
                        k: Int, iters: Int): Unit = {
    register(s)
    graft.functions.Natives.registerAll(s)
    import s.implicits._
    val (vecs, trainVecs, stride) = corpusAndSample(s, sfDir, k)
    val kc = kcFor(k)
    val coarseArr = lloyd(s, trainVecs, kc, iters)
    // stage-2 training input: the sample keyed by its coarse cell
    val sampleAssigned = assignVia(trainVecs, coarseArr)
      .select(col("vec_id"), col("v"), col("cid").as("ccid"))
    val ct = CellTarget
    val strideL = stride
    val itersL = iters
    val subs = sampleAssigned.as[(Long, Seq[Double], Int)]
      .groupByKey(_._3)
      .flatMapGroups { (ccid: Int, it: Iterator[(Long, Seq[Double], Int)]) =>
        // sorted by vec_id ⇒ deterministic init rows, like lloyd's init
        val rows = it.toArray.sortBy(_._1)
        val cellPop = rows.length.toLong * strideL
        val kCell = math.max(1L, math.min(rows.length.toLong,
          (cellPop + ct - 1) / ct)).toInt
        val centers = localKMeans(rows.map(_._2.toArray), kCell, itersL)
        centers.iterator.zipWithIndex.map { case (cv, j) => (ccid, j, cv.toSeq) }
      }.toDF("ccid", "sub", "cv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // global dense cids from per-cell counts — a Kc-int collect, bounded
    val counts = subs.groupBy("ccid").count()
      .as[(Int, Long)].collect().sortBy(_._1)
    var acc = 0L
    val offMap = counts.map { case (cc, c) => val o = acc; acc += c; (cc, o) }
    val offDf = broadcast(offMap.toSeq.toDF("ccid", "off"))
    val cent = subs.join(offDf, Seq("ccid"))
      .select((col("off") + col("sub")).cast(IntegerType).as("cid"),
              col("cv"), col("ccid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cent.count() // materialize before subs-derived lineage is re-read below
    trainVecs.unpersist()
    val tFin = System.nanoTime()
    // final assignment: two bounded top-1s over the FULL corpus
    val coarseDf = broadcast(coarseArr.toDF("ccid", "ccv"))
    val stage1 = vecs.crossJoin(coarseDf)
      .withColumn("cd2", graft.functions.SqDist.sq_dist(col("v"), col("ccv")))
      .groupBy("vec_id")
      .agg(min_by(struct(col("v"), col("ccid")),
                  struct(col("cd2"), col("ccid"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.ccid").as("ccid"))
    val finalAssign = stage1.join(cent, Seq("ccid"))
      .withColumn("d2", sqdist) // EXACT reference arithmetic, as in assign
      .groupBy("vec_id")
      .agg(min_by(struct(col("v"), col("cid")),
                  struct(col("d2"), col("cid"))).as("m"))
      // float-stored v — exact round-trip; see build()'s note
      .select(col("vec_id"),
              col("m.v").cast(ArrayType(FloatType)).as("v"),
              sqrt(graft.functions.DotProduct.dot_product(col("m.v"), col("m.v"))).as("norm"),
              col("m.cid").as("cid"))
    coarseArr.toDF("ccid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/coarse.parquet")
    cent.select(col("cid"), col("cv"), col("ccid"))
      .write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    finalAssign.repartition(col("cid")).write.mode("overwrite")
      .partitionBy("cid").parquet(s"$indexDir/assignments")
    subs.unpersist(); cent.unpersist()
    System.err.println(
      f"[ivf-build] tree final assign+write: ${(System.nanoTime() - tFin) / 1e9}%.1f s")
    // _meta.json LAST via atomic rename — the build-complete marker
    val tmp = Paths.get(s"$indexDir/_meta.json.tmp")
    Files.writeString(tmp,
      s"""{"sfDir":"$sfDir","k":$k,"iters":$iters,"tree":true,"kc":$kc,"vfmt":"f32"}""")
    Files.move(tmp, Paths.get(s"$indexDir/_meta.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Train + persist the index for `sfDir` into `indexDir`. */
  def build(s: SparkSession, sfDir: String, indexDir: String,
            k: Int, iters: Int = Iters, tree: Boolean = false): Unit = {
    if (tree) return buildTree(s, sfDir, indexDir, k, iters)
    register(s)
    val (vecs, trainVecs, _) = corpusAndSample(s, sfDir, k)
    val centArr = lloyd(s, trainVecs, k, iters)
    trainVecs.unpersist()
    import s.implicits._
    val tFin = System.nanoTime()
    // final assignment: FULL corpus against the FINAL centroids — what
    // search + oracle see; norm is per-row constant, so precompute it
    // into the index
    // v is STORED as array<float> (round 17): the doubles here are exact
    // widenings of the raw float embeddings, so the downcast round-trips
    // bit-exactly, and every consumer (dot_product/sq_dist/sign_code —
    // all float-capable) widens back to the SAME doubles. Halves the
    // assignments' vector bytes on disk and in every downstream exchange
    // (q79's pair join carried 512 B/side/row of vector through its
    // shuffle at sf30). norm stays the double computed BEFORE the cast.
    val finalAssign = assignVia(vecs, centArr)
      .select(col("vec_id"),
              col("v").cast(ArrayType(FloatType)).as("v"),
              sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))).as("norm"),
              col("cid"))
    centArr.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    // Cluster by cid before the partitioned write: without it every write
    // task emits a file into every cid directory it touches (tasks×K small
    // files — ~37k at sf30's K=1172). After the shuffle each cid lives in
    // exactly one task ⇒ one file per cell, which is also the read-side
    // friendly layout (a probe opens nprobe files).
    finalAssign.repartition(col("cid")).write.mode("overwrite")
      .partitionBy("cid").parquet(s"$indexDir/assignments")
    System.err.println(
      f"[ivf-build] final assign+write: ${(System.nanoTime() - tFin) / 1e9}%.1f s")
    // _meta.json is the build-complete marker, written LAST via atomic
    // rename: a concurrent reader either sees a complete index or none.
    val tmp = Paths.get(s"$indexDir/_meta.json.tmp")
    Files.writeString(tmp, s"""{"sfDir":"$sfDir","k":$k,"iters":$iters,"vfmt":"f32"}""")
    Files.move(tmp, Paths.get(s"$indexDir/_meta.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Ensure an index built from `sfDir` exists at its derived location;
    * build only when the completion marker is absent (per-config dirs
    * never need the rebuild-on-mismatch dance). */
  def ensure(s: SparkSession, sfDir: String): String = synchronized {
    val k = kFor(s, sfDir)
    val tree = treeOn(s, sfDir)
    val dir = indexDir(sfDir, k, Iters, tree)
    val meta = Paths.get(s"$dir/_meta.json")
    val want =
      if (tree)
        s"""{"sfDir":"$sfDir","k":$k,"iters":$Iters,"tree":true,"kc":${kcFor(k)},"vfmt":"f32"}"""
      else s"""{"sfDir":"$sfDir","k":$k,"iters":$Iters,"vfmt":"f32"}"""
    if (!Files.exists(meta) || Files.readString(meta) != want)
      build(s, sfDir, dir, k, Iters, tree)
    dir
  }

  def centroids(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/centroids.parquet")

  def assignments(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/assignments")

  /** Index-build CLI: `runMain graft.operators.IvfIndex <sfDir> [indexDir]`. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = graft.GraftSession.builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val k = kFor(s, sfDir)
    val outDir = if (args.length > 1) args(1) else indexDir(sfDir, k)
    build(s, sfDir, outDir, k)
    println(s"IVF_INDEX_BUILT $outDir k=$k iters=$Iters")
    s.stop()
  }
}
