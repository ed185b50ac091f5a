package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextOps

class TextOpsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("every text query returns rows") {
    TextOps.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("q31 quality ratios live in [0, 1] and token counts are positive") {
    val q = TextOps.q31_doc_quality(spark, sf)
    assert(q.filter(col("n_tokens") <= 0).count() == 0)
    assert(q.filter(col("distinct_ratio") <= 0 || col("distinct_ratio") > 1).count() == 0)
    assert(q.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
  }

  test("q76 BPE-ish counter tokenizes a constructed string exactly") {
    import spark.implicits._
    // hand-derived against the documented leftmost-first alternation:
    // I · 'll · ␣pay · ␣100 · ␣dollars · , · ␣isn · 't · ␣it · ? · ␣␣ · done
    val text = "I'll pay 100 dollars, isn't it?  done"
    val got = Seq(text).toDF("text")
      .select(regexp_count(col("text"), lit(TextOps.BpeRe)).as("n"))
      .head().getInt(0)
    assert(got == 12, s"expected 12 BPE-ish tokens, got $got")
    // the whitespace counter sees 8 (the double space contributes an
    // empty split element — the q30 convention, identical in DuckDB)
    val ws = Seq(text).toDF("text")
      .select(size(split(col("text"), " ")).as("n")).head().getInt(0)
    assert(ws == 8)
  }

  test("q76 per-source accounting: bpe >= ws and the ratio is their quotient") {
    val rows = TextOps.q76_bpe_token_stats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wsT, bpeT, ratio) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      // splitting out punctuation/contractions only ever adds tokens
      assert(bpeT >= wsT, s"source ${r.getString(0)}: bpe $bpeT < ws $wsT")
      assert(math.abs(ratio - bpeT.toDouble / wsT.toDouble) == 0.0)
    }
  }

  test("q33 unique fingerprints never exceed doc counts") {
    assert(TextOps.q33_fingerprint_dedup(spark, sf)
      .filter(col("n_unique") > col("n_docs")).count() == 0)
  }

  test("q34 jaccard pairs are ordered and bounded") {
    val p = TextOps.q34_ngram_jaccard(spark, sf)
    assert(p.filter(col("d1") >= col("d2")).count() == 0)
    assert(p.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
  }

  test("q64 incremental filter equals q35's pair table restricted cross-side") {
    // q35 reports every band-colliding pair (d1 < d2); q64's delta-vs-base
    // probe must be exactly that table filtered to (base, delta) sides and
    // rolled up per delta doc — no pair invented, none lost.
    val q35 = TextOps.q35_minhash_lsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = q35.flatMap { case (d1, d2) => Seq((d1, d2), (d2, d1)) }
      .collect { case (b, n) if b % 10 < 8 && n % 10 >= 8 => (n, b) }
      .groupBy(_._1)
      .map { case (n, bs) =>
        (n, bs.map(_._2).distinct.size.toLong, bs.map(_._2).min) }
      .toSet
    val got = TextOps.q64_incremental_neardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q64 detects a delta duplicate of a base doc; clean delta docs pass") {
    import spark.implicits._
    // ids chosen so the duplicate pair straddles the % 10 split: 3 -> base,
    // 18 -> delta (exact copy: identical signatures, all 4 bands collide);
    // 28 -> delta with disjoint vocabulary (must NOT be held back)
    val shared = (0 until 30).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("q64docs").toString
    Seq(
      (3L, shared),
      (18L, shared),
      (28L, (0 until 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q64_incremental_neardup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(18L -> ((1L, 3L))))
  }

  test("object-agg sort-fallback path equals the hash path on q34") {
    // The raised fallback threshold lives on the bounded-agg CHILD session
    // the query is built against (Tuning.boundedAggSession); the exec
    // reads it at RUNTIME from the acting session — df.sparkSession.
    // Construct first, then force a 1-group threshold THERE so execution
    // takes the sort-based fallback — the degradation mode past 1M
    // resident groups must be value-identical to the hashed path.
    // NOTE: uses the LAZY pair pipeline — the memoized q34 form runs its
    // aggregation eagerly at construction (shared-index materialization),
    // before this spec could flip the threshold.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    def pairs() = TextOps.jaccardPairs(spark, sf, dfCap = 50, threshold = 0.2)
      .orderBy("d1", "d2")
    val hashed = pairs().collect().map(_.toSeq)
    val df = pairs()
    df.sparkSession.conf.set(key, "1")
    try {
      val sorted = df.collect().map(_.toSeq)
      assert(sorted.sameElements(hashed), "sort fallback changed the pair set")
    } finally df.sparkSession.conf.unset(key)
  }

  test("jaccard pair paths agree end-to-end across id regimes (packed low/high, struct)") {
    // Same corpus under three doc_id schemes: small ids (packed path,
    // d1 < 2^31), ids in [2^31, 2^32) (packed path where an arithmetic
    // unpack shift would sign-extend — the round-8 bug regime), and ids
    // ≥ 2^32 (struct fallback path). Offset-adjusted pair sets must be
    // identical — this drives the path SELECTION (memoized footer max),
    // the packed unpack, and the struct fallback end-to-end through
    // jaccardPairs, not just the expression.
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "a completely different document about spark catalyst and tungsten",
      "a completely different document about spark catalyst and tungsten too",
      "unrelated text with its own vocabulary entirely separate from others")
    def writeCorpus(offset: Long): String = {
      val dir = TestSpark.tempDir("graft_ids")
      base.zipWithIndex
        .map { case (t, i) => (offset + i, "en", t, t.length.toLong) }
        .toDF("doc_id", "lang", "text", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def pairsAt(offset: Long): Set[(Long, Long, Long)] = {
      val dir = writeCorpus(offset)
      TextOps.jaccardPairs(spark, dir, dfCap = 50, threshold = 0.2)
        .select("d1", "d2", "n_common").as[(Long, Long, Long)].collect()
        .map { case (a, b, n) => (a - offset, b - offset, n) }.toSet
    }
    val low = pairsAt(0L)
    val high = pairsAt((1L << 31) + 5)   // packed, bit-63 regime
    val huge = pairsAt((1L << 32) + 5)   // struct fallback
    assert(low.nonEmpty, "fixture produced no near-dup pairs")
    assert(high == low, "packed high-id regime diverges")
    assert(huge == low, "struct fallback path diverges")
  }

  test("simhash lane capacity: a 40k-token doc computes exactly; 65536+ hits the named guard") {
    // ANSI mode is on everywhere in this repo: with 4 lanes/long a 32k+
    // token document tripped a GENERIC arithmetic overflow mid-aggregation
    // (bit 63 signed crossing) before the named guard could run. The
    // 3-lane packing keeps every intermediate < 2^49, so the full
    // documented range (< 2^16 tokens) computes and the one failure mode
    // is the actionable raise_error.
    import spark.implicits._
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon")
    def doc(n: Int) = (0 until n).map(i => words(i % words.length)).mkString(" ")
    val ok = Seq((1L, doc(40000))).toDF("doc_id", "text")
    val got = TextOps.simhashOf(ok).collect()
    assert(got.length == 1)
    // driver-side reference: votes over distinct tokens weighted by count
    val toks = doc(40000).split(" ")
    val counts = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val n = toks.length.toLong
    val expected = (0 until 60).map { b =>
      val ones = counts.map { case (t, c) =>
        val h = graft.functions.Md5Long.hash(t.getBytes("UTF-8"), 0, 15)
        if (((h >> b) & 1L) == 1L) c else 0L
      }.sum
      if (2 * ones > n) 1L << b else 0L
    }.sum
    assert(got.head.getLong(1) == expected, "40k-token simhash diverges from reference")
    val over = Seq((2L, doc(65536))).toDF("doc_id", "text")
    val e = intercept[Exception] { TextOps.simhashOf(over).collect() }
    def messages = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("split upstream"),
      s"expected the named guard, got: $messages")
  }

  test("bounded-agg threshold override is scoped to the child session") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val parentBefore = spark.conf.getOption(key)
    val df = TextOps.q34_ngram_jaccard(spark, sf)
    // parent untouched — unbounded collect_list aggregates in this session
    // keep the default 128-group memory guard
    assert(spark.conf.getOption(key) == parentBefore,
      "building a bounded-agg query must not change the parent session conf")
    // the query itself executes under the scoped child (a cached shared
    // index keeps the child session; the override is re-applied on every
    // boundedAggSession access, so assert through that accessor — an
    // earlier spec may have unset the child's key after materializing)
    assert(df.sparkSession ne spark)
    assert(graft.Tuning.boundedAggSession(spark) eq df.sparkSession)
    assert(graft.Tuning.boundedAggSession(spark).conf.get(key).toLong == (1L << 20))
    // parent runtime conf changes flow into the child on next construction
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "123456")
    try {
      val df2 = TextOps.q34_ngram_jaccard(spark, sf)
      assert(df2.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold") == "123456")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("sizes broadcast→shuffle swap leaves q34 results identical") {
    val bc = TextOps.q34_ngram_jaccard(spark, sf).collect().map(_.toSeq)
    // a 1-byte budget forces the live swap condition onto the shuffle path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val sh = TextOps.q34_ngram_jaccard(spark, sf).collect().map(_.toSeq)
      assert(sh.sameElements(bc), "swap changed the pair set")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("test-shingle broadcast→shuffle swap leaves q38 results identical") {
    val bc = TextOps.q38_decontamination(spark, sf).collect().map(_.toSeq)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val sh = TextOps.q38_decontamination(spark, sf).collect().map(_.toSeq)
      assert(sh.sameElements(bc), "swap changed the contamination result")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q65 bloom pre-filtered decontamination is bit-identical to q38") {
    // the exact confirm join must erase every bloom false positive: same
    // rows, same values, same order as the exact-set plan
    val exact = TextOps.q38_decontamination(spark, sf).collect().map(_.toSeq)
    val bloom = TextOps.q65_bloom_decontam(spark, sf).collect().map(_.toSeq)
    assert(exact.nonEmpty, "fixture should contain contaminated docs")
    assert(bloom.sameElements(exact), "bloom path changed the result")
  }

  test("q65 bloom funnel: no false negatives, fpr within the design bound") {
    val (nTrain, nMaybe, nHit) = TextOps.bloomDecontamFunnel(spark, sf)
    // soundness: every confirmed hit passed the pre-filter (hits are
    // counted FROM the maybe set, so nHit ≤ nMaybe is structural; the
    // real claim is that the confirmed count matches q38's contamination
    // total over ALL train shingles — no hit was filtered away)
    val q38Hits = TextOps.q38_decontamination(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_contaminated")).head.getLong(0)
    assert(nHit >= q38Hits,
      s"bloom dropped true hits: confirmed $nHit < q38's reported $q38Hits")
    // selectivity: false positives over the clean rows stay under ~4× the
    // 0.5% design fpr (the bound holds at the provable key ceiling; the
    // fixture corpus sits well under it, slack for hash variance)
    val fpr = (nMaybe - nHit).toDouble / math.max(1L, nTrain - nHit)
    assert(fpr <= 0.02, s"bloom fpr $fpr exceeds 4x the design bound")
    // and the pre-filter actually filters: the confirm join must see a
    // small fraction of the corpus, else the scale story is vacuous
    assert(nMaybe < nTrain, "pre-filter removed nothing")
  }

  test("minhash LSH recalls the high-jaccard near-dup pairs") {
    val exact = TextOps.q34_ngram_jaccard(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.q35_minhash_lsh(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    assert(exact.subsetOf(lsh),
      s"LSH missed high-similarity pairs: ${exact -- lsh}")
  }

  test("q59 repetition stats: known docs, boundary drops, corpus invariants") {
    import spark.implicits._
    // constructed corpus exercising the exact fraction math and the
    // <3-token drop rule, written as a documents table q59 can read
    val dir = java.nio.file.Files.createTempDirectory("q59docs").toString
    Seq(
      (1L, "spam spam spam spam spam spam"), // 5 identical 2-grams, 4 identical 3-grams
      (2L, "a b c d e f g"),                 // all grams distinct
      (3L, "x y"),                           // 2 tokens: no 3-gram -> dropped
      (4L, "p q r")                          // 3 tokens: top2 = 1/2 -> flagged
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q59_repetition_stats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L)) // doc 3 dropped
    assert(got(1L) == ((1.0, 0.75, true)))
    assert(got(2L)._1 == 1.0 / 6 && got(2L)._2 == 0.0 && !got(2L)._3)
    assert(got(4L) == ((0.5, 0.0, true)))

    // real corpus: fraction ranges and the drop rule's row count
    val q = TextOps.q59_repetition_stats(spark, sf)
    assert(q.filter(col("top2_frac") <= 0 || col("top2_frac") > 1).count() == 0)
    assert(q.filter(col("dup3_frac") < 0 || col("dup3_frac") >= 1).count() == 0)
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 3).count()
    assert(q.count() == eligible)
  }

  test("q69 funnel: constructed corpus drops exactly one doc per stage rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("funneldocs").toString
    def hb(id: Long): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString, 16)
    // split membership is md5(doc_id)-derived (q57's rule): pick one
    // TEST-split id (first byte >= 0xe6) and train-split ids (< 0xcc)
    val testId = (0L to 4000L).find(hb(_) >= 230).get
    val trainIds = (0L to 4000L).filter(hb(_) < 204).take(8)
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val contamText = "the " + toks(23, "c")
    val dupText    = "the " + toks(23, "d")
    val docs = Seq(
      trainIds(0) -> toks(25, "zz"),                       // no marker → stage 1
      trainIds(1) -> "the b c d e",                        // 5 tokens → stage 2
      trainIds(2) -> ("the " + Seq.fill(30)("w").mkString(" ")), // dr 2/31 → stage 2
      trainIds(3) -> ("the " + toks(14, "u") + " " +
        Seq.fill(9)("r s").mkString(" ")),                 // top2 9/32 → stage 3
      trainIds(4) -> contamText,                           // flagged → stage 4
      testId      -> contamText,                           // test split: never flagged
      trainIds(5) -> dupText,                              // dup pair: min id survives
      trainIds(6) -> dupText,                              //   the other → stage 5
      trainIds(7) -> ("the " + toks(23, "e")))             // clean: survives
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ledger = TextOps.q69_funnel(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ledger.keySet == Set(0, 1, 2, 3, 4, 5))
    assert(ledger.map { case (k, v) => k -> v._2 } ==
      Map(0 -> 9L, 1 -> 8L, 2 -> 6L, 3 -> 5L, 4 -> 4L, 5 -> 3L),
      s"stage doc counts: $ledger")
    assert(ledger(0)._1 == "raw" && ledger(5)._1 == "dedup")
    // tokens are monotone non-increasing down the funnel
    val tk = (0 to 5).map(ledger(_)._3)
    assert(tk.zip(tk.tail).forall { case (a, b) => a >= b }, s"tokens: $tk")

    // real corpus: raw row matches the table, stages monotone, and the
    // dedup-stage drop can never exceed q33's total duplicate count
    val real = TextOps.q69_funnel(spark, sf).collect()
      .sortBy(_.getInt(0)).map(r => (r.getLong(2), r.getLong(3)))
    assert(real.head._1 == Tables.documents(spark, sf).count())
    assert(real.zip(real.tail).forall { case (a, b) => a._1 >= b._1 && a._2 >= b._2 })
    val q33dups = TextOps.q33_fingerprint_dedup(spark, sf).agg(sum("n_dups"))
      .head().getLong(0)
    assert(real(4)._1 - real(5)._1 <= q33dups)
  }
}
