package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LshGate, VectorOps}

/** Measurement main for the q42 LSH resolution gate (round 14) and the
  * per-bucket overflow split (round 15): at a given SF / corpus, what
  * each resolution policy costs and buys.
  *
  * Per rung it reports, for each mode:
  *  - candidate pairs (Σ n·(n−1)/2 over the JOIN-GRAIN histogram —
  *    (bucket, extc) cells when the split is live, base buckets
  *    otherwise — the join's exact pre-filter cardinality)
  *  - the worst base bucket and the worst join cell (max_bucket /
  *    max_cell: the quantity the split bounds — a skewed corpus shows
  *    max_bucket ≫ target while max_cell returns to ~the irreducible
  *    duplicate-cluster size)
  *  - q42 output rows and wall seconds (the noop sink, like Bench —
  *    count() would let the optimizer prune the verified columns)
  *  - probe-anchored sampled recall at cosine ≥ 0.2 and ≥ 0.4 (a partner
  *    counts as CAUGHT when it shares the probe's bucket AND extension
  *    code — the operator's own candidate grain). Honest single-band
  *    numbers; recall-critical dedup rides the multi-band families.
  *
  * Modes: `derived_split` (the live operator: N-derived bits + default
  * split factor), `derived_nosplit` (r14's gate alone — what the split
  * adds over it), `fixed8` (the historical constant — what the gate
  * added, printed when derived ≠ 8).
  *
  * Usage: runMain graft.LshLadder <sfDir>
  */
object LshLadder {
  /** (rows, wall seconds): the wall of a noop write of `df`, which
    * computes every column; the row count runs afterwards, untimed. */
  private def timedRun(df: DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    (df.count(), wall)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Natives.registerAll(spark)

    val n = Tables.embeddingsCount(spark, sfDir)
    val derived = LshGate.derivedBits(n, LshGate.targetRows(spark))

    def report(bits: Int, factor: Long, tag: String): Unit = {
      spark.conf.set("graft.lsh.bits", bits.toString)
      spark.conf.set("graft.lsh.splitFactor", factor.toString)
      try {
        def coded = VectorOps.lshCodedScan(spark, sfDir, bits)
        val h = coded.groupBy("bucket", "extc").count()
          .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"),
               max(col("count")))
          .head
        val (cand, maxCell) = (h.getLong(0), h.getLong(1))
        val maxBucket = coded.groupBy("bucket").count()
          .agg(max(col("count"))).head.getLong(0)
        // SPARK_GRAFT_LSH_SKIPJOIN=mode,mode — skip EXECUTING the
        // candidate join for reference modes whose cost is the ladder's
        // point (the f300 skew rung's unsplit join is ~7 G pairs / tens
        // of minutes; its cand_pairs census and recall probe — the
        // numbers the rung exists for — cost seconds). Skipped joins
        // report wall/out_rows as -1, like Bench's failed-query marker.
        val skipJoin = sys.env.get("SPARK_GRAFT_LSH_SKIPJOIN").toSeq
          .flatMap(_.split(",")).map(_.trim).contains(tag)
        val q42 = SparkEntry.queries("q42_lsh_neardup")
        val (rows, wall) =
          if (skipJoin) (-1L, -1.0)
          else timedRun(q42(spark, sfDir))
        // probe-anchored sampled recall, both thresholds from one pass;
        // CAUGHT == the operator's own candidate grain: shares the
        // probe's (bucket, extc)
        val probeSet = coded.filter(col("vec_id") < 200)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
                  col("norm").as("qn"), col("bucket").as("qb"),
                  col("extc").as("qe"))
        val hit = col("bucket") === col("qb") && col("extc") === col("qe")
        val r = coded.join(broadcast(probeSet), col("vec_id") =!= col("q_id"))
          .withColumn("cos",
            graft.functions.DotProduct.dot_product(col("qv"), col("v")) /
              (col("qn") * col("norm")))
          .filter(col("cos") >= 0.2)
          .agg(
            count(lit(1)).as("ex02"),
            sum(when(hit, 1L).otherwise(0L)).as("c02"),
            sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("ex04"),
            sum(when(col("cos") >= 0.4 && hit, 1L).otherwise(0L)).as("c04"))
          .head
        def ratio(c: Long, e: Long) =
          if (e == 0) 1.0 else math.rint(10000.0 * c / e) / 10000
        println(
          s"""{"sf_dir":"$sfDir","mode":"$tag","n":$n,"bits":$bits,""" +
          s""""split_factor":$factor,""" +
          s""""cand_pairs":$cand,"cand_per_row":${math.rint(100.0 * cand / n) / 100},""" +
          s""""max_bucket":$maxBucket,"max_cell":$maxCell,""" +
          s""""out_rows":$rows,"wall_s":${math.rint(wall * 100) / 100},""" +
          s""""recall02":${ratio(r.getLong(1), r.getLong(0))},""" +
          s""""recall04":${ratio(r.getLong(3), r.getLong(2))}}""")
      } finally {
        spark.conf.unset("graft.lsh.bits")
        spark.conf.unset("graft.lsh.splitFactor")
      }
    }

    /** The composed-recall rung (round 16, VERDICT r15 #1): q78's banded
      * union measured at the operator's own candidate grain. Reports the
      * SUM of per-band candidate masses (the work all four joins
      * evaluate — the cost side), the worst cell across bands (the bound
      * the per-band splits hold), q78's wall + output, and the
      * probe-anchored UNION recall: a partner counts as caught when it
      * shares (bucket, extc) with the probe in ANY band. The claim under
      * test: union recall@0.4 on the skew corpora ≥ the unsplit
      * single-band 0.74, with every band's worst cell still bounded. */
    def reportBanded(bits: Int, factor: Long, tag: String): Unit = {
      spark.conf.set("graft.lsh.bits", bits.toString)
      spark.conf.set("graft.lsh.splitFactor", factor.toString)
      try {
        val bands = 0 until LshGate.Bands
        val perBand = bands.map { j =>
          val cells = VectorOps.lshBandedScan(spark, sfDir, bits, j)
            .groupBy("bucket", "extc").count()
          val h = cells.agg(
            sum(col("count") * (col("count") - 1) / 2).cast("long"),
            max(col("count"))).head
          (h.getLong(0), h.getLong(1))
        }
        val cand = perBand.map(_._1).sum
        val maxCell = perBand.map(_._2).max
        val skipJoin = sys.env.get("SPARK_GRAFT_LSH_SKIPJOIN").toSeq
          .flatMap(_.split(",")).map(_.trim).contains(tag)
        val q78 = SparkEntry.queries("q78_lsh_banded")
        val (rows, wall) =
          if (skipJoin) (-1L, -1.0)
          else timedRun(q78(spark, sfDir))
        // union recall: exact cosine pairs for 200 probe anchors (from
        // band 0's scan — v/norm are band-independent), caught = shares
        // the probe's (bucket, extc) in ANY band
        val exact = {
          val coded = VectorOps.lshBandedScan(spark, sfDir, bits, 0)
          val probeSet = VectorOps.lshBandedScan(spark, sfDir, bits, 0)
            .filter(col("vec_id") < 200)
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
                    col("norm").as("qn"))
          coded.join(broadcast(probeSet), col("vec_id") =!= col("q_id"))
            .withColumn("cos",
              graft.functions.DotProduct.dot_product(col("qv"), col("v")) /
                (col("qn") * col("norm")))
            .filter(col("cos") >= 0.2)
            .select(col("q_id"), col("vec_id"), col("cos"))
        }
        val caught = bands.map { j =>
          val coded = VectorOps.lshBandedScan(spark, sfDir, bits, j)
          val probeSet = VectorOps.lshBandedScan(spark, sfDir, bits, j)
            .filter(col("vec_id") < 200)
            .select(col("vec_id").as("q_id"), col("bucket").as("qb"),
                    col("extc").as("qe"))
          coded.join(broadcast(probeSet),
              col("vec_id") =!= col("q_id") &&
              col("bucket") === col("qb") && col("extc") === col("qe"))
            .select(col("q_id"), col("vec_id"))
        }.reduce(_ union _).distinct()
          .withColumn("hit", lit(1))
        val r = exact.join(caught, Seq("q_id", "vec_id"), "left")
          .agg(
            count(lit(1)).as("ex02"),
            sum(coalesce(col("hit"), lit(0))).as("c02"),
            sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("ex04"),
            sum(when(col("cos") >= 0.4 && col("hit").isNotNull, 1L)
              .otherwise(0L)).as("c04"))
          .head
        def ratio(c: Long, e: Long) =
          if (e == 0) 1.0 else math.rint(10000.0 * c / e) / 10000
        println(
          s"""{"sf_dir":"$sfDir","mode":"$tag","n":$n,"bits":${LshGate.bandBits(bits)},""" +
          s""""bands":${LshGate.Bands},"split_factor":$factor,""" +
          s""""cand_pairs":$cand,"cand_per_row":${math.rint(100.0 * cand / n) / 100},""" +
          s""""max_cell":$maxCell,""" +
          s""""out_rows":$rows,"wall_s":${math.rint(wall * 100) / 100},""" +
          s""""recall02":${ratio(r.getLong(1), r.getLong(0))},""" +
          s""""recall04":${ratio(r.getLong(3), r.getLong(2))}}""")
      } finally {
        spark.conf.unset("graft.lsh.bits")
        spark.conf.unset("graft.lsh.splitFactor")
      }
    }

    /** The DATA-ADAPTIVE rung (round 16): q68 SemDeDup's cluster-local
      * pairing measured at the same grain as the LSH modes — candidate
      * mass (Σ nC2 over IVF cells), worst cell, q68 wall, probe-anchored
      * recall with caught == shares the probe's IVF cell. Sign-LSH codes
      * are DATA-INDEPENDENT, so template mass lands in one bucket and
      * bounded-cost recall is capped by per-bit agreement (~0.63 at
      * cosine 0.4); k-means ADAPTS — template mass gets its own
      * centroids, so template near-dups co-locate in bounded cells. The
      * ladder measures whether that structural argument holds. */
    def reportIvf(tag: String): Unit = {
      val idx = graft.operators.IvfIndex.ensure(spark, sfDir)
      def asg = graft.operators.IvfIndex.assignments(spark, idx)
      val h = asg.groupBy("cid").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"),
             max(col("count"))).head
      val (cand, maxCell) = (h.getLong(0), h.getLong(1))
      val skipJoin = sys.env.get("SPARK_GRAFT_LSH_SKIPJOIN").toSeq
        .flatMap(_.split(",")).map(_.trim).contains(tag)
      val q68 = SparkEntry.queries("q68_semdedup")
      val (rows, wall) =
        if (skipJoin) (-1L, -1.0)
        else timedRun(q68(spark, sfDir))
      val probeSet = asg.filter(col("vec_id") < 200)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
                col("norm").as("qn"), col("cid").as("qc"))
      val hit = col("cid") === col("qc")
      val r = asg.join(broadcast(probeSet), col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          graft.functions.DotProduct.dot_product(col("qv"), col("v")) /
            (col("qn") * col("norm")))
        .filter(col("cos") >= 0.2)
        .agg(
          count(lit(1)).as("ex02"),
          sum(when(hit, 1L).otherwise(0L)).as("c02"),
          sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("ex04"),
          sum(when(col("cos") >= 0.4 && hit, 1L).otherwise(0L)).as("c04"))
        .head
      def ratio(c: Long, e: Long) =
        if (e == 0) 1.0 else math.rint(10000.0 * c / e) / 10000
      println(
        s"""{"sf_dir":"$sfDir","mode":"$tag","n":$n,""" +
        s""""k":${graft.operators.IvfIndex.kFor(spark, sfDir)},""" +
        s""""cand_pairs":$cand,"cand_per_row":${math.rint(100.0 * cand / n) / 100},""" +
        s""""max_cell":$maxCell,""" +
        s""""out_rows":$rows,"wall_s":${math.rint(wall * 100) / 100},""" +
        s""""recall02":${ratio(r.getLong(1), r.getLong(0))},""" +
        s""""recall04":${ratio(r.getLong(3), r.getLong(2))}}""")
    }

    /** The recall DIAL on the adaptive rung: multi-assignment — every
      * vector joins its `np` nearest cells (the nprobe idea applied to
      * dedup; FAISS deployments do exactly this for IVF-based near-dup).
      * Candidates grow ≤ np²× (memberships np×, a pair can share ≤ np
      * cells); recall adds the pairs that straddle adjacent cells —
      * exactly the mass single-assignment loses at cell boundaries.
      * Membership selection is the bounded map-side top-k (no corpus
      * window shuffle); caught == the probe and partner share ≥ 1
      * assigned cell. */
    def reportIvfNp(np: Int, tag: String): Unit = {
      val idx = graft.operators.IvfIndex.ensure(spark, sfDir)
      val cent = broadcast(graft.operators.IvfIndex.centroids(spark, idx))
      def asgN = {
        val a = graft.operators.IvfIndex.assignments(spark, idx)
          .select("vec_id", "v", "norm")
        a.crossJoin(cent)
          .withColumn("d2", graft.functions.SqDist.sq_dist(col("v"), col("cv")))
          .groupBy("vec_id", "v", "norm")
          .agg(graft.functions.TopKByScore.top_k_by_score(np)(
            -col("d2"), col("cid"), lit(0)).as("top"))
          .select(col("vec_id"), col("v"), col("norm"),
                  explode(col("top._2")).as("cid"))
      }
      val h = asgN.groupBy("cid").count()
        .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"),
             max(col("count"))).head
      val (cand, maxCell) = (h.getLong(0), h.getLong(1))
      val skipJoin = sys.env.get("SPARK_GRAFT_LSH_SKIPJOIN").toSeq
        .flatMap(_.split(",")).map(_.trim).contains(tag)
      // the would-be operator: cell-local pairs over the expanded
      // membership, deduped, verified at cosine ≥ 0.2 — timed end to end
      val (rows, wall) =
        if (skipJoin) (-1L, -1.0)
        else {
          val a = asgN.select(col("cid"), col("vec_id").as("d1"),
            col("v").as("v1"), col("norm").as("n1"))
          val b = asgN.select(col("cid").as("cid_b"), col("vec_id").as("d2"),
            col("v").as("v2"), col("norm").as("n2"))
          timedRun(a.join(b, col("cid") === col("cid_b") && col("d1") < col("d2"))
            .withColumn("cos",
              graft.functions.DotProduct.dot_product(col("v1"), col("v2")) /
                (col("n1") * col("n2")))
            .filter(col("cos") >= 0.2)
            .select("d1", "d2").distinct())
        }
      val probeSet = asgN.filter(col("vec_id") < 200)
        .select(col("vec_id").as("q_id"), col("cid").as("qc"))
      val caught = asgN.select(col("vec_id"), col("cid"))
        .join(broadcast(probeSet),
          col("vec_id") =!= col("q_id") && col("cid") === col("qc"))
        .select("q_id", "vec_id").distinct()
        .withColumn("hit", lit(1))
      val exact = {
        val asg = graft.operators.IvfIndex.assignments(spark, idx)
        val ps = graft.operators.IvfIndex.assignments(spark, idx)
          .filter(col("vec_id") < 200)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
                  col("norm").as("qn"))
        asg.join(broadcast(ps), col("vec_id") =!= col("q_id"))
          .withColumn("cos",
            graft.functions.DotProduct.dot_product(col("qv"), col("v")) /
              (col("qn") * col("norm")))
          .filter(col("cos") >= 0.2)
          .select(col("q_id"), col("vec_id"), col("cos"))
      }
      val r = exact.join(caught, Seq("q_id", "vec_id"), "left")
        .agg(
          count(lit(1)).as("ex02"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("c02"),
          sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("ex04"),
          sum(when(col("cos") >= 0.4 && col("hit").isNotNull, 1L)
            .otherwise(0L)).as("c04"))
        .head
      def ratio(c: Long, e: Long) =
        if (e == 0) 1.0 else math.rint(10000.0 * c / e) / 10000
      println(
        s"""{"sf_dir":"$sfDir","mode":"$tag","n":$n,""" +
        s""""k":${graft.operators.IvfIndex.kFor(spark, sfDir)},"np":$np,""" +
        s""""cand_pairs":$cand,"cand_per_row":${math.rint(100.0 * cand / n) / 100},""" +
        s""""max_cell":$maxCell,""" +
        s""""out_rows":$rows,"wall_s":${math.rint(wall * 100) / 100},""" +
        s""""recall02":${ratio(r.getLong(1), r.getLong(0))},""" +
        s""""recall04":${ratio(r.getLong(3), r.getLong(2))}}""")
    }

    /** The q79 DIAL rungs (round 17, VERDICT r16 #1/#2): the REAL
      * operator timed end-to-end under its session confs — np (the
      * recall dial, now a conf) × prefilterBits (the wall dial). Recall
      * is probe-anchored at the dial's own candidate grain: a partner
      * counts as CAUGHT when it shares ≥1 of the probe's np cells AND —
      * with the pre-filter live — its sign code agrees within
      * [[graft.operators.VectorOps.prefilterMaxHamming]] bits, i.e.
      * exactly the pairs whose dot the dialed operator evaluates.
      * `gate_pass` is the cost side: among probe-anchored cell-local
      * CANDIDATES, the fraction that still reaches the full-width dot
      * (1.0 with the dial off; the dial's dot savings ≈ 1 − gate_pass). */
    def reportQ79(np: Int, pfBits: Int, tag: String): Unit = {
      spark.conf.set("graft.semdedup.np", np.toString)
      if (pfBits > 0)
        spark.conf.set("graft.semdedup.prefilterBits", pfBits.toString)
      try {
        val idx = graft.operators.IvfIndex.ensure(spark, sfDir)
        val cent = graft.operators.IvfIndex.centroids(spark, idx)
        def asgN = graft.operators.IvfIndex.topCells(
          graft.operators.IvfIndex.assignments(spark, idx)
            .select(col("vec_id"), col("v")), cent, np)
        val h = asgN.groupBy("cid").count()
          .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"),
               max(col("count"))).head
        val (cand, maxCell) = (h.getLong(0), h.getLong(1))
        val skipJoin = sys.env.get("SPARK_GRAFT_LSH_SKIPJOIN").toSeq
          .flatMap(_.split(",")).map(_.trim).contains(tag)
        val q79 = SparkEntry.queries("q79_semdedup_np")
        val (rows, wall) =
          if (skipJoin) (-1L, -1.0)
          else timedRun(q79(spark, sfDir))
        // per-vector sign codes (pf grain: one code per vec, not per
        // membership — identical to the operator's coding)
        def codes = graft.operators.IvfIndex.assignments(spark, idx)
          .select(col("vec_id"), graft.functions.SignCode.sign_code(
            col("v"), lit(0), lit(math.max(pfBits, 1))).as("sc"))
        val maxHam = graft.operators.VectorOps.prefilterMaxHamming(pfBits)
        val probeSet = asgN.filter(col("vec_id") < 200)
          .select(col("vec_id").as("q_id"), col("cid").as("qc"))
        // candidate (share-≥1-cell) probe pairs, with both codes attached
        val candPairs = asgN.select(col("vec_id"), col("cid"))
          .join(broadcast(probeSet),
            col("vec_id") =!= col("q_id") && col("cid") === col("qc"))
          .select("q_id", "vec_id").distinct()
          .join(codes, Seq("vec_id"))
          .join(broadcast(codes.select(col("vec_id").as("q_id"),
            col("sc").as("qsc")).filter(col("q_id") < 200)), Seq("q_id"))
          .withColumn("pass",
            lit(pfBits <= 0) ||
              expr("bit_count(sc ^ qsc)") <= lit(maxHam))
        val caught = candPairs.filter(col("pass"))
          .select("q_id", "vec_id").withColumn("hit", lit(1))
        val gatePass = candPairs.agg(avg(when(col("pass"), 1.0).otherwise(0.0)))
          .head.getDouble(0)
        val exact = {
          val asg = graft.operators.IvfIndex.assignments(spark, idx)
          val ps = graft.operators.IvfIndex.assignments(spark, idx)
            .filter(col("vec_id") < 200)
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
                    col("norm").as("qn"))
          asg.join(broadcast(ps), col("vec_id") =!= col("q_id"))
            .withColumn("cos",
              graft.functions.DotProduct.dot_product(col("qv"), col("v")) /
                (col("qn") * col("norm")))
            .filter(col("cos") >= 0.2)
            .select(col("q_id"), col("vec_id"), col("cos"))
        }
        val r = exact.join(caught, Seq("q_id", "vec_id"), "left")
          .agg(
            count(lit(1)).as("ex02"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("c02"),
            sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("ex04"),
            sum(when(col("cos") >= 0.4 && col("hit").isNotNull, 1L)
              .otherwise(0L)).as("c04"))
          .head
        def ratio(c: Long, e: Long) =
          if (e == 0) 1.0 else math.rint(10000.0 * c / e) / 10000
        println(
          s"""{"sf_dir":"$sfDir","mode":"$tag","n":$n,""" +
          s""""k":${graft.operators.IvfIndex.kFor(spark, sfDir)},"np":$np,""" +
          s""""pf_bits":$pfBits,"pf_maxham":${if (pfBits > 0) maxHam else -1},""" +
          s""""cand_pairs":$cand,"cand_per_row":${math.rint(100.0 * cand / n) / 100},""" +
          s""""max_cell":$maxCell,"gate_pass":${math.rint(gatePass * 10000) / 10000},""" +
          s""""out_rows":$rows,"wall_s":${math.rint(wall * 100) / 100},""" +
          s""""recall02":${ratio(r.getLong(1), r.getLong(0))},""" +
          s""""recall04":${ratio(r.getLong(3), r.getLong(2))}}""")
      } finally {
        spark.conf.unset("graft.semdedup.np")
        spark.conf.unset("graft.semdedup.prefilterBits")
      }
    }

    // SPARK_GRAFT_LADDER=q79_ (prefix match, comma-separated) — run only
    // matching rungs; unset = the full ladder (r16 rungs + the dial rungs)
    val onlyModes = sys.env.get("SPARK_GRAFT_LADDER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(tag: String): Boolean =
      onlyModes.forall(_.exists(tag.startsWith))
    def gated(tag: String)(body: => Unit): Unit = if (want(tag)) body

    gated("derived_split") {
      report(derived, LshGate.splitFactor(spark), "derived_split") }
    // the composed-recall answer (round 16): the banded union, split live
    gated("derived_banded") {
      reportBanded(derived, LshGate.splitFactor(spark), "derived_banded") }
    // the recall/candidates FRONTIER: shorter bands trade candidate mass
    // for per-band collision probability (p ≈ 0.63^bb at cosine 0.4) —
    // the rungs quantify what recall ≥ the unsplit 0.74 would cost
    if (derived > 7) gated("banded_bb-3") {
      reportBanded(derived - 3, LshGate.splitFactor(spark), "banded_bb-3") }
    if (derived > 10) gated("banded_bb-6") {
      reportBanded(derived - 6, LshGate.splitFactor(spark), "banded_bb-6") }
    // the data-ADAPTIVE alternative: k-means cells (q68 SemDeDup), then
    // the multi-assignment recall dial on top
    gated("ivf_semdedup") { reportIvf("ivf_semdedup") }
    gated("ivf_semdedup_np2") { reportIvfNp(2, "ivf_semdedup_np2") }
    gated("ivf_semdedup_np4") { reportIvfNp(4, "ivf_semdedup_np4") }
    // the q79 dial matrix (round 17): np × prefilterBits, real operator
    gated("q79_np2") { reportQ79(2, 0, "q79_np2") }
    gated("q79_np2_pf16") { reportQ79(2, 16, "q79_np2_pf16") }
    gated("q79_np2_pf32") { reportQ79(2, 32, "q79_np2_pf32") }
    gated("q79_np4") { reportQ79(4, 0, "q79_np4") }
    gated("q79_np4_pf32") { reportQ79(4, 32, "q79_np4_pf32") }
    gated("derived_nosplit") { report(derived, 0, "derived_nosplit") }
    if (derived != 8) gated("fixed8") { report(8, 0, "fixed8") }
    spark.stop()
  }
}
