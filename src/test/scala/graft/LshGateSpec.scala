package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LshGate

/** The q42 resolution gate (round 14, VERDICT r13 #1): bits derive from
  * corpus size so candidate pairs stay ~linear in N; the SQL oracle's
  * CASE ladder is bit-identical to the Scala derivation; a forced
  * resolution produces exactly the pairs an independent all-pairs oracle
  * admits at that resolution. */
class LshGateSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("derivedBits: thresholds, monotonicity, clamps") {
    // the measured rungs (target = 32)
    assert(LshGate.derivedBits(500) == 8)     // sf0.01
    assert(LshGate.derivedBits(2000) == 8)    // sf0.1
    assert(LshGate.derivedBits(8192) == 8)    // boundary: 32·2^8 exactly
    assert(LshGate.derivedBits(8193) == 9)    // first over
    assert(LshGate.derivedBits(20000) == 10)  // sf1
    assert(LshGate.derivedBits(200000) == 13) // sf10
    assert(LshGate.derivedBits(600000) == 15) // sf30
    // monotone in n, clamped to [MinBits, MaxBits]
    val ns = Seq(1L, 100L, 10000L, 1000000L, 100000000L, Long.MaxValue / 2)
    val bs = ns.map(LshGate.derivedBits(_))
    assert(bs == bs.sorted)
    assert(bs.head == LshGate.MinBits && bs.last == LshGate.MaxBits)
    // target scales the whole ladder
    assert(LshGate.derivedBits(600000, 1024) == 10)
  }

  test("oracle CASE ladder == Scala derivation, across the whole ladder") {
    assume(!sys.env.contains("SPARK_GRAFT_CONF"),
      "ambient forced conf would turn the ladder into a literal")
    val ladder = LshGate.oracleBitsSql // Spark SQL groks the same CASE
    for (n <- Seq(1L, 500L, 2000L, 8192L, 8193L, 20000L, 199999L, 200000L,
                  600000L, 1L << 24, 1L << 30, 1L << 40)) {
      val sqlBits = spark.sql(s"SELECT $ladder FROM (SELECT CAST($n AS BIGINT) AS c)")
        .head.getInt(0)
      assert(sqlBits == LshGate.derivedBits(n),
        s"ladder diverges from derivedBits at n=$n")
    }
  }

  test("q42 at a forced resolution == independent all-pairs oracle at that resolution") {
    val d = sf // 500 vectors: the all-pairs oracle is cheap
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select(col("bucket"), col("d1"), col("d2")).collect().toSeq
        .sortBy(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    for (bits <- Seq(8, 10)) {
      spark.conf.set("graft.lsh.bits", bits.toString)
      try {
        val got = rows(SparkEntry.queries("q42_lsh_neardup")(spark, d))
        // independent oracle: ALL pairs, same-bucket ∧ cosine ≥ 0.2, from
        // a from-scratch cross join (no shared code path with q42's join)
        graft.functions.Natives.registerAll(spark)
        val v = Tables.embeddings(spark, d)
          .select(col("vec_id"),
                  expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
                  expr(LshGate.sparkBucketExpr(bits)).as("bucket"))
          .withColumn("norm",
            sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))
        val a = v.select(col("bucket"), col("vec_id").as("d1"),
                         col("v").as("v1"), col("norm").as("n1"))
        val b = v.select(col("bucket").as("b2"), col("vec_id").as("d2"),
                         col("v").as("v2"), col("norm").as("n2"))
        val expect = rows(a.crossJoin(b)
          .filter(col("d1") < col("d2") && col("bucket") === col("b2"))
          .withColumn("cosine",
            graft.functions.DotProduct.dot_product(col("v1"), col("v2")) /
              (col("n1") * col("n2")))
          .filter(col("cosine") >= 0.2))
        assert(got == expect, s"bits=$bits: q42 != all-pairs oracle")
        assert(got.nonEmpty, s"bits=$bits: degenerate empty fixture")
      } finally spark.conf.unset("graft.lsh.bits")
    }
  }

  test("extBits: trigger, monotonicity, clamps; SQL ext ladder == Scala") {
    // defaults: target 32, factor 4 → trigger at n > 128
    assert(LshGate.extBits(128) == 0)  // at the trigger exactly → no split
    assert(LshGate.extBits(129) == 3)  // smallest e with n ≤ 32·2^e
    assert(LshGate.extBits(256) == 3)
    assert(LshGate.extBits(257) == 4)
    assert(LshGate.extBits(120000) == 12)
    assert(LshGate.extBits(Long.MaxValue / 4) == LshGate.MaxExtBits) // clamp
    assert(LshGate.extBits(1000000, factor = 0) == 0)                // disabled
    // monotone in n
    val es = Seq(1L, 129L, 300L, 5000L, 120000L, 1L << 40).map(LshGate.extBits(_))
    assert(es == es.sorted)
    // the ANSI ladder text computes the same widths (Spark SQL groks it)
    val ladder = LshGate.extLadderSql("n", 32, 4, LshGate.MaxExtBits.toString)
    for (n <- Seq(1L, 32L, 128L, 129L, 256L, 257L, 8192L, 120000L,
                  1L << 30, Long.MaxValue / 4)) {
      val got = spark.sql(s"SELECT $ladder FROM (SELECT CAST($n AS BIGINT) AS n)")
        .head.getInt(0)
      assert(got == LshGate.extBits(n), s"ext ladder diverges at n=$n")
    }
  }

  test("q42 under a forced split == pure-Scala oracle (census, ladder, suffix code)") {
    val d = sf // 500 vectors: the driver-side oracle is cheap
    // force a resolution/budget that makes most buckets overflow: 4 bits
    // → 16 buckets ≈ 31 rows each, trigger at n > 8, ext = ladder(n)
    val (bits, target, factor) = (4, 4L, 2L)
    spark.conf.set("graft.lsh.bits", bits.toString)
    spark.conf.set("graft.lsh.targetBucketRows", target.toString)
    spark.conf.set("graft.lsh.splitFactor", factor.toString)
    try {
      val got = SparkEntry.queries("q42_lsh_neardup")(spark, d)
        .select(col("bucket"), col("d1"), col("d2")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // independent oracle: the whole pipeline re-derived in plain Scala
      // over the collected fixture (no shared code path with q42)
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def bucketOf(v: Array[Float]): Int =
        (0 until bits).map(i => if (v(i) > 0f) 1 << i else 0).sum
      val ext = vecs.groupBy(x => bucketOf(x._2)).map { case (b, xs) =>
        b -> LshGate.extBits(xs.length, target, factor, LshGate.maxExtFor(bits)) }
      def extcOf(v: Array[Float], e: Int): Long =
        if (e <= 0) 0L
        else (64 - e until 64).map(i => if (v(i) > 0f) 1L << (i - (64 - e)) else 0L).sum
      def dot(a: Array[Float], b: Array[Float]): Double =
        (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
      val keyed = vecs.map { case (id, v) =>
        val b = bucketOf(v); (id, v, b, extcOf(v, ext(b))) }
      val expect = (for {
        (i1, v1, b1, e1) <- keyed.toSeq
        (i2, v2, b2, e2) <- keyed.toSeq
        if i1 < i2 && b1 == b2 && e1 == e2
        if dot(v1, v2) / (math.sqrt(dot(v1, v1)) * math.sqrt(dot(v2, v2))) >= 0.2
      } yield (b1, i1, i2)).toSet
      assert(ext.values.exists(_ > 0),
        "fixture produced no overflowing bucket — the split test is vacuous")
      assert(got == expect, "q42 under forced split != pure-Scala oracle")
      assert(got.nonEmpty)
    } finally {
      spark.conf.unset("graft.lsh.bits")
      spark.conf.unset("graft.lsh.targetBucketRows")
      spark.conf.unset("graft.lsh.splitFactor")
    }
  }

  test("split is a no-op where no bucket overflows (default small-SF invariance)") {
    val d = sf // 500 rows over 256 buckets: far under the 128-row trigger
    val dflt = SparkEntry.queries("q42_lsh_neardup")(spark, d)
      .collect().toSeq.sortBy(_.toString)
    spark.conf.set("graft.lsh.splitFactor", "0")
    try {
      val off = SparkEntry.queries("q42_lsh_neardup")(spark, d)
        .collect().toSeq.sortBy(_.toString)
      assert(dflt == off, "default output changed where no bucket overflows")
    } finally spark.conf.unset("graft.lsh.splitFactor")
  }

  test("q78 banded under a forced split == pure-Scala oracle (per-band census, next-window ext)") {
    val d = sf
    val (bits, target, factor) = (4, 4L, 2L)
    spark.conf.set("graft.lsh.bits", bits.toString)
    spark.conf.set("graft.lsh.targetBucketRows", target.toString)
    spark.conf.set("graft.lsh.splitFactor", factor.toString)
    try {
      val got = SparkEntry.queries("q78_lsh_banded")(spark, d)
        .select(col("d1"), col("d2"), col("n_bands")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // independent oracle: all four bands re-derived in plain Scala —
      // band j's base code over dims [16j, 16j+bb), census per band,
      // extension over the NEXT window's dims
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val bb = LshGate.bandBits(bits)
      def dot(a: Array[Float], b: Array[Float]): Double =
        (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
      def bucketOf(v: Array[Float], off: Int): Int =
        (off until off + bb).map(i => if (v(i) > 0f) 1 << (i - off) else 0).sum
      val caught = scala.collection.mutable.Map[(Long, Long), Int]()
      for (j <- 0 until LshGate.Bands) {
        val off = j * LshGate.BandWidth
        val extOff = LshGate.bandExtOff(j)
        val ext = vecs.groupBy(x => bucketOf(x._2, off)).map { case (b, xs) =>
          b -> LshGate.extBits(xs.length, target, factor, LshGate.BandWidth) }
        def extcOf(v: Array[Float], e: Int): Long =
          if (e <= 0) 0L
          else (extOff until extOff + e).map(i =>
            if (v(i) > 0f) 1L << (i - extOff) else 0L).sum
        val keyed = vecs.map { case (id, v) =>
          val b = bucketOf(v, off); (id, v, b, extcOf(v, ext(b))) }
        for {
          (i1, v1, b1, e1) <- keyed.toSeq
          (i2, v2, b2, e2) <- keyed.toSeq
          if i1 < i2 && b1 == b2 && e1 == e2
          if dot(v1, v2) / (math.sqrt(dot(v1, v1)) * math.sqrt(dot(v2, v2))) >= 0.2
        } caught((i1, i2)) = caught.getOrElse((i1, i2), 0) + 1
      }
      val expect = caught.map { case ((i1, i2), n) => (i1, i2, n) }.toSet
      assert(got == expect, "q78 under forced split != pure-Scala banded oracle")
      assert(got.nonEmpty)
      assert(got.exists(_._3 > 1), "no pair caught by >1 band — union dedup untested")
    } finally {
      spark.conf.unset("graft.lsh.bits")
      spark.conf.unset("graft.lsh.targetBucketRows")
      spark.conf.unset("graft.lsh.splitFactor")
    }
  }

  test("q78 ⊇ q42 when the split is off and bits ≤ band width (band 0 IS the prefix code)") {
    val d = sf
    spark.conf.set("graft.lsh.splitFactor", "0")
    try {
      // derived bits at sf0.001 = 8 ≤ 16: band 0's code over dims [0,8)
      // is exactly q42's prefix code, so with no split every q42 pair
      // must appear in the banded union
      val q42 = SparkEntry.queries("q42_lsh_neardup")(spark, d)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val q78 = SparkEntry.queries("q78_lsh_banded")(spark, d)
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(q42.subsetOf(q78), "banded union lost a band-0 (prefix) pair")
      assert(q78.size > q42.size,
        "bands 1-3 caught nothing beyond band 0 — recall amplification untested")
    } finally spark.conf.unset("graft.lsh.splitFactor")
  }

  test("derived resolution is the default path and matches forcing the same bits") {
    val d = sf
    val derived = LshGate.bits(spark, d)
    assert(derived == 8, "sf0.001 must derive the historical 8 bits")
    val dflt = SparkEntry.queries("q42_lsh_neardup")(spark, d)
      .collect().toSeq.sortBy(_.toString)
    spark.conf.set("graft.lsh.bits", "8")
    try {
      val forced = SparkEntry.queries("q42_lsh_neardup")(spark, d)
        .collect().toSeq.sortBy(_.toString)
      assert(dflt == forced)
    } finally spark.conf.unset("graft.lsh.bits")
  }
}
