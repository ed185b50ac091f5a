package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, TextOps}
import graft.streaming.{BandIngest, DocsFunnel, EventsStream, StateCompaction, VecIngest}

/** Compaction must be READ-EQUIVALENT: each sink's assembled view (live
  * assignment set, band set, funnel ledger, merged hourly table) is
  * unchanged while the batch-dir / file count drops to the bound. */
class StateCompactionSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def tmp(prefix: String) = TestSpark.tempDir(prefix)

  test("vec delta: latest-wins survives compaction; one bid dir remains") {
    val idx = IvfIndex.ensure(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val deltaDir = tmp("vec_compact")
    // three deliveries, including a re-delivery (vec 600001 revised in
    // bid=2) so the latest-wins resolution is actually exercised
    VecIngest.assignBatch(emb.limit(5)
      .withColumn("vec_id", col("vec_id") + 600000L), idx, deltaDir, 0L)
    VecIngest.assignBatch(emb.limit(9)
      .withColumn("vec_id", col("vec_id") + 700000L), idx, deltaDir, 1L)
    VecIngest.assignBatch(
      emb.orderBy(col("vec_id").desc).limit(1)
        .withColumn("vec_id", lit(600001L)), idx, deltaDir, 2L)

    def live: Set[(Long, Seq[Double], Double, Int)] =
      VecIngest.assignmentsWithDelta(spark, idx, deltaDir)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1),
          r.getDouble(2), r.getInt(3))).toSet
    val before = live
    val (nBefore, nAfter) = StateCompaction.compactVecDelta(spark, deltaDir)
    assert(nBefore == 3 && nAfter == 1)
    assert(VecIngest.committedBidDirs(deltaDir).size == 1)
    assert(live == before)
    // idempotent: a second pass is a no-op
    assert(StateCompaction.compactVecDelta(spark, deltaDir) == (1, 1))
  }

  test("band delta: probe view survives compaction; one bid dir remains") {
    val idx = BandIngest.ensure(spark, sf)
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaDir = tmp("band_compact")
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 === 0), idx, deltaDir, 0L)
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 =!= 0), idx, deltaDir, 1L)
    // a re-delivery: duplicates that distinct() must fold
    BandIngest.ingestBatch(docs.limit(2), idx, deltaDir, 2L)

    def bandSet: Set[(Long, String)] =
      BandIngest.deltaBands(spark, deltaDir).get
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = bandSet
    val (nBefore, nAfter) = StateCompaction.compactBandDelta(spark, deltaDir)
    assert(nBefore == 3 && nAfter == 1)
    assert(bandSet == before)
    // duplicates actually dropped: compacted rows = distinct set size
    assert(BandIngest.deltaBands(spark, deltaDir).get.count() == before.size)
  }

  test("funnel state: ledger is bit-unchanged; both sinks fold to one dir") {
    val docs = Tables.documents(spark, sf)
    val fixedList = TextOps.testShingleSet(spark, sf)
    val deliveryDir = tmp("funnel_compact_in")
    val stateDir = tmp("funnel_compact_state")
    def deliver(df: DataFrame, name: String): Unit = {
      val staging = java.nio.file.Paths.get(tmp("sc_staging"))
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = java.nio.file.Files.list(staging).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(deliveryDir, s"documents_$name.parquet"))
    }
    deliver(docs.filter(col("doc_id") % 2 === 0), "a")
    val q1 = DocsFunnel.start(spark, deliveryDir, fixedList, stateDir)
    q1.processAllAvailable(); q1.stop()
    deliver(docs.filter(col("doc_id") % 2 =!= 0), "b")
    val q2 = DocsFunnel.start(spark, deliveryDir, fixedList, stateDir)
    q2.processAllAvailable(); q2.stop()

    def ledgerSet = DocsFunnel.ledger(spark, stateDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val before = ledgerSet
    val ((pB, pA), (fB, fA)) = StateCompaction.compactFunnelState(spark, stateDir)
    assert(pB == 2 && pA == 1 && fB == 2 && fA == 1)
    assert(ledgerSet == before)
    assert(StateCompaction.committedKeyedDirs(s"$stateDir/parts", "batch_id").size == 1)
    assert(StateCompaction.committedKeyedDirs(s"$stateDir/p4", "batch_id").size == 1)
  }

  test("keyed swap recovery: a manifested temp finishes forward, losslessly") {
    import java.nio.file.{Files, Paths}
    val idx = BandIngest.ensure(spark, sf)
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaDir = tmp("band_crash_fwd")
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 === 0), idx, deltaDir, 0L)
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 =!= 0), idx, deltaDir, 1L)
    def bandSet: Set[(Long, String)] =
      BandIngest.deltaBands(spark, deltaDir).get
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = bandSet

    // manufacture the worst crash state: compacted temp fully written,
    // manifest placed, bid=0 ALREADY DELETED (the temp is now the only
    // copy of its rows), crash before bid=1's delete and the rename
    val dirs = StateCompaction.committedKeyedDirs(deltaDir, "bid")
    val tmpDir = s"$deltaDir/.compact_tmp"
    spark.read.option("basePath", deltaDir).parquet(dirs: _*)
      .select("doc_id", "band_key").distinct().write.parquet(tmpDir)
    Files.writeString(Paths.get(s"$tmpDir/.consumed"),
      ("bid=1" +: dirs).mkString("\n"))
    graft.Fs.deleteTree(Paths.get(dirs.head)) // bid=0 gone

    // the naive recovery (discard temp, re-compact remainder) would lose
    // bid=0's rows here; the manifested recovery must finish the swap
    val (nB, nA) = StateCompaction.compactBandDelta(spark, deltaDir)
    assert((nB, nA) == (1, 1)) // recovery ran first; one dir left to fold
    assert(StateCompaction.committedKeyedDirs(deltaDir, "bid")
      .map(p => new java.io.File(p).getName) == Seq("bid=1"))
    assert(bandSet == before)
    assert(!Files.exists(Paths.get(tmpDir)))
    assert(!Files.exists(Paths.get(s"$deltaDir/bid=1/.consumed")))
  }

  test("keyed sink reads self-heal a manifested crashed swap") {
    import java.nio.file.{Files, Paths}
    val idx = BandIngest.ensure(spark, sf)
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaDir = tmp("band_crash_read")
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 === 0), idx, deltaDir, 0L)
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 =!= 0), idx, deltaDir, 1L)
    def bandSet: Set[(Long, String)] =
      BandIngest.deltaBands(spark, deltaDir).get
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = bandSet

    // same worst crash state as above: fold's only copy in the temp
    val dirs = StateCompaction.committedKeyedDirs(deltaDir, "bid")
    val tmpDir = s"$deltaDir/.compact_tmp"
    spark.read.option("basePath", deltaDir).parquet(dirs: _*)
      .select("doc_id", "band_key").distinct().write.parquet(tmpDir)
    Files.writeString(Paths.get(s"$tmpDir/.consumed"),
      ("bid=1" +: dirs).mkString("\n"))
    graft.Fs.deleteTree(Paths.get(dirs.head))

    // NO compaction call: the plain read path must heal and serve the
    // complete set (a compaction crash needs no operator intervention)
    assert(bandSet == before)
    assert(!Files.exists(Paths.get(tmpDir)))
    assert(StateCompaction.committedKeyedDirs(deltaDir, "bid")
      .map(p => new java.io.File(p).getName) == Seq("bid=1"))
  }

  test("keyed sink reads leave an unmanifested temp alone (live compactor's)") {
    import java.nio.file.{Files, Paths}
    val idx = BandIngest.ensure(spark, sf)
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaDir = tmp("band_live_tmp")
    BandIngest.ingestBatch(docs, idx, deltaDir, 0L)
    Files.createDirectories(Paths.get(s"$deltaDir/.compact_tmp"))
    Files.writeString(Paths.get(s"$deltaDir/.compact_tmp/part-wip.parquet"), "x")
    assert(BandIngest.deltaBands(spark, deltaDir).get.count() > 0)
    // the read neither consumed nor deleted the work-in-progress temp
    assert(Files.exists(Paths.get(s"$deltaDir/.compact_tmp/part-wip.parquet")))
  }

  test("keyed swap recovery: an unmanifested temp is discarded, inputs intact") {
    import java.nio.file.{Files, Paths}
    val idx = BandIngest.ensure(spark, sf)
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) >= 8)
    val deltaDir = tmp("band_crash_back")
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 === 0), idx, deltaDir, 0L)
    BandIngest.ingestBatch(docs.filter(col("doc_id") % 2 =!= 0), idx, deltaDir, 1L)
    def bandSet: Set[(Long, String)] =
      BandIngest.deltaBands(spark, deltaDir).get
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = bandSet
    // crash mid-write: temp exists, incomplete (no manifest; inputs untouched)
    Files.createDirectories(Paths.get(s"$deltaDir/.compact_tmp"))
    Files.writeString(Paths.get(s"$deltaDir/.compact_tmp/part-garbage.parquet"), "x")
    val (nB, nA) = StateCompaction.compactBandDelta(spark, deltaDir)
    assert((nB, nA) == (2, 1)) // discarded the junk, compacted normally
    assert(bandSet == before)
  }

  test("hourly swap recovery: every crash state restores the full view") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val outDir = tmp("hourly_crash")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def d(x: String) = new java.math.BigDecimal(x)
    def part(rows: Seq[(java.sql.Timestamp, String, Long, java.math.BigDecimal, Long)],
             to: String = s"$outDir/hourly_partials") =
      rows.toDF("hour", "event_type", "n_events", "total_value_d", "batch_id")
        .write.mode("append").parquet(to)
    part(Seq((t0, "click", 3L, d("1.50"), 0L)))
    part(Seq((t0, "click", 5L, d("2.75"), 2L)))
    def merged = EventsStream.readIncrementalHourly(spark, outDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val before = merged

    // crash state A: live dir renamed aside, replacement not yet in
    // place (no temp survived) → roll the aside copy back
    Files.move(Paths.get(s"$outDir/hourly_partials"),
      Paths.get(s"$outDir/.hourly_partials_old"))
    StateCompaction.recoverHourlyPartials(outDir)
    assert(merged == before)

    // crash state B: aside copy coexists with a live dir (cleanup crash /
    // stream restarted first) → its files fold back in, nothing deleted;
    // exact-duplicate rows are invisible to the latest-wins reader
    part(Seq((t0, "click", 5L, d("2.75"), 2L)),
      to = s"$outDir/.hourly_partials_old")
    StateCompaction.recoverHourlyPartials(outDir)
    assert(merged == before)
    assert(!Files.exists(Paths.get(s"$outDir/.hourly_partials_old")))

    // crash state C: live dir missing, replacement fully written → finish
    val latest = spark.read.parquet(s"$outDir/hourly_partials")
    latest.coalesce(1).write.parquet(s"$outDir/.hourly_partials_tmp")
    graft.Fs.deleteTree(Paths.get(s"$outDir/hourly_partials"))
    StateCompaction.recoverHourlyPartials(outDir)
    assert(merged == before)
    // and the real compaction still works end-to-end after all that
    val (fB, fA) = StateCompaction.compactHourlyPartials(spark, outDir)
    assert(fA == 1 && fB >= 1)
    assert(merged == before)
  }

  test("hourly merged view self-heals the crashed states, ignores a bare temp") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val outDir = tmp("hourly_selfheal")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    Seq((t0, "view", 4L, new java.math.BigDecimal("3.25"), 0L))
      .toDF("hour", "event_type", "n_events", "total_value_d", "batch_id")
      .write.mode("append").parquet(s"$outDir/hourly_partials")
    def merged = EventsStream.readIncrementalHourly(spark, outDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val before = merged
    // crashed state (live dir moved aside): the plain reader restores it
    Files.move(Paths.get(s"$outDir/hourly_partials"),
      Paths.get(s"$outDir/.hourly_partials_old"))
    assert(merged == before)
    assert(!Files.exists(Paths.get(s"$outDir/.hourly_partials_old")))
    // a bare temp with the live dir intact is NOT a crashed state — the
    // reader must not delete what may be a running compaction's write
    Files.createDirectories(Paths.get(s"$outDir/.hourly_partials_tmp"))
    Files.writeString(Paths.get(s"$outDir/.hourly_partials_tmp/part-wip.parquet"), "x")
    assert(merged == before)
    assert(Files.exists(Paths.get(s"$outDir/.hourly_partials_tmp/part-wip.parquet")))
  }

  test("hourly partials: merged view unchanged, files bounded") {
    import spark.implicits._
    val outDir = tmp("hourly_compact")
    // synthesize the append-mode partials directly (readIncrementalHourly
    // is a pure function of the directory): window W1 emitted in batches
    // 0 and 2 (latest must win), W2 once
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    def part(rows: Seq[(java.sql.Timestamp, String, Long, java.math.BigDecimal, Long)]) =
      rows.toDF("hour", "event_type", "n_events", "total_value_d", "batch_id")
        .write.mode("append").parquet(s"$outDir/hourly_partials")
    def d(x: String) = new java.math.BigDecimal(x)
    part(Seq((t0, "click", 3L, d("1.50"), 0L)))
    part(Seq((t0, "click", 5L, d("2.75"), 2L), (t1, "view", 7L, d("9.00"), 2L)))
    def merged = EventsStream.readIncrementalHourly(spark, outDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val before = merged
    assert(before.exists(t => t._2 == "click" && t._3 == 5L)) // latest won pre-compaction
    val (fBefore, fAfter) = StateCompaction.compactHourlyPartials(spark, outDir)
    assert(fBefore > fAfter && fAfter == 1)
    assert(merged == before)
  }
}
