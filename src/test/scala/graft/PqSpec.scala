package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{PqIndex, VectorOps}

/** Product-quantization index + q66 search: build determinism, code/
  * codebook structure, search-shape invariants, and recall-vs-exact
  * quality on the fixture corpus. */
class PqSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def buildTwice(): (String, String) = {
    val d1 = java.nio.file.Files.createTempDirectory("pq_a").toString
    val d2 = java.nio.file.Files.createTempDirectory("pq_b").toString
    PqIndex.build(spark, sf, d1)
    PqIndex.build(spark, sf, d2)
    (d1, d2)
  }

  test("rebuild is deterministic: identical codebooks and codes") {
    val (d1, d2) = buildTwice()
    def cb(d: String) = PqIndex.codebooks(spark, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    def cd(d: String) = PqIndex.codes(spark, d).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(cb(d1) == cb(d2))
    assert(cd(d1) == cd(d2))
  }

  test("index structure: full M x Kc codebook, Dsub-dim centroids, in-range codes") {
    val idx = PqIndex.ensure(spark, sf)
    val cb = PqIndex.codebooks(spark, idx).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(cb.length == PqIndex.M * PqIndex.Kc, "emptied cells must keep a centroid")
    assert(cb.map(c => (c._1, c._2)).toSet ==
      (for (m <- 0 until PqIndex.M; c <- 0 until PqIndex.Kc) yield (m, c)).toSet)
    assert(cb.forall(_._3.length == PqIndex.Dsub))
    val codes = PqIndex.codes(spark, idx).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(codes.nonEmpty)
    assert(codes.forall(_._2.length == PqIndex.M))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < PqIndex.Kc)))
    // every corpus vector is encoded
    assert(codes.length == Tables.embeddings(spark, sf).count())
  }

  test("q66 shape: 3 ranked neighbors per probe, self excluded, cosines in range") {
    val out = VectorOps.q66_pq_ann(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.forall(_._2.map(_.getInt(1)).sorted.sameElements(Seq(1, 2, 3))))
    assert(out.forall(r => r.getLong(2) != r.getLong(0)), "self-match leaked")
    assert(out.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
  }

  test("broadcast hints land on joins: the codebook into assignment, q66's probes") {
    // own session with size-based broadcasting off: only a hint can plan
    // a broadcast join
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    graft.functions.Natives.registerAll(s2)
    def broadcastJoins(df: DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec => j.nodeName
        case j: BroadcastNestedLoopJoinExec => j.nodeName
      }
    val sub = Seq((7L, 0, Seq(0.0, 1.0))).toDF("vec_id", "m", "sv")
    val cent = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(0.0, 0.9)))
      .toDF("m", "cid", "cv")
    val assigned = PqIndex.assignCells(sub, cent)
    assert(broadcastJoins(assigned) == Seq("BroadcastHashJoin"))
    assert(assigned.select("cid").as[Int].collect().toSeq == Seq(1))
    // the probe cross join and the probe re-attach both broadcast
    assert(broadcastJoins(VectorOps.q66_pq_ann(s2, sf)).sorted ==
      Seq("BroadcastHashJoin", "BroadcastNestedLoopJoin"))
  }

  test("native pq_adc equals the composed aggregate fold on the real index") {
    graft.functions.Natives.registerAll(spark)
    val idx = PqIndex.ensure(spark, sf)
    val (mm, kc, dsub) = (PqIndex.M, PqIndex.Kc, PqIndex.Dsub)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
      .withColumn("cb", typedLit(PqIndex.flatCodebook(spark, idx)))
      .withColumn("lut", expr(
        s"""transform(sequence(0, ${mm * kc - 1}), i ->
              aggregate(sequence(1, $dsub), CAST(0 AS DOUBLE), (acc, j) ->
                acc + (element_at(qv, CAST(i div $kc AS INT) * $dsub + j)
                       - element_at(cb, CAST(i AS INT) * $dsub + j))
                    * (element_at(qv, CAST(i div $kc AS INT) * $dsub + j)
                       - element_at(cb, CAST(i AS INT) * $dsub + j))))"""))
    val both = PqIndex.codes(spark, idx).crossJoin(probes)
      .withColumn("native", graft.functions.PqAdc.pq_adc(col("lut"), col("code"), kc))
      .withColumn("composed", expr(
        s"""aggregate(sequence(0, ${mm - 1}), CAST(0 AS DOUBLE), (acc, m) ->
              acc + element_at(lut, CAST(m AS INT) * $kc + element_at(code, CAST(m AS INT) + 1) + 1))"""))
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
    assert(both.count() > 0)
  }

  test("q67 IVF-PQ: neighbors come from probed cells; near-total agreement with q46") {
    import org.apache.spark.sql.expressions.Window
    val ivf = graft.operators.IvfIndex.ensure(spark, sf)
    // probed cells per query, recomputed independently
    val cent = graft.operators.IvfIndex.centroids(spark, ivf)
    val probes = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
    val probedCells = probes.crossJoin(cent)
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d2"), col("cid"))))
      .filter(col("rn") <= graft.operators.IvfIndex.NProbe)
      .select("q_id", "cid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
    val memberCells = graft.operators.IvfIndex.assignments(spark, ivf)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val q67 = VectorOps.q67_ivfpq_ann(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(q67.nonEmpty)
    q67.foreach { case (q, ns) =>
      ns.foreach { n =>
        assert(probedCells(q).contains(memberCells(n)),
          s"q67 neighbor $n of query $q is outside the probed cells") } }
    // same cells, ADC-pruned candidates vs exact ranking: agreement floor
    // (measured 0.97 at sf0.01 — ADC's top-32 almost always contains the
    // exact within-cell top-3)
    val q46 = VectorOps.q46_ivf_ann(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val agree = q46.map { case (q, ex) =>
      q67.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    assert(agree.sum / agree.size >= 0.8,
      s"q67/q46 agreement ${agree.sum / agree.size} below 0.8")
  }

  test("recall@3 vs the exact scan clears the fixture floor") {
    // exact side: ivfSearch probing every cell IS the exact scan
    // (IvfSpec pins that identity)
    val exact = VectorOps.ivfSearch(spark, sf, nprobe = graft.operators.IvfIndex.kFor(spark, sf), k = 3)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val pq = VectorOps.q66_pq_ann(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = exact.map { case (q, ex) =>
      pq.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
    val mean = recall.sum / recall.size
    // measured 0.70 at sf0.01 / 0.75+ at sf0.001 with rerank=32 on the
    // near-random synthetic embeddings; chance is PqRerank/N ~ 0.06.
    // The floor asserts ADC signal, not a tuned ceiling.
    assert(mean >= 0.5, s"PQ mean recall@3 $mean below the 0.5 fixture floor")
  }
}
