package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.superstore.{Exporter, SuperstoreETL, WarehouseCache}

class ExporterSpec extends AnyFunSuite {
  import TestSpark.spark

  private val csv = WarehouseCache.CsvPath

  test("csv export round-trips a dimension table") {
    val wh = SuperstoreETL.build(spark, csv)
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    Exporter.exportAll(Map("Region" -> wh("Region"), "Shipping" -> wh("Shipping")), dir)
    val back = spark.read.option("header", "true").csv(s"$dir/Region")
    assert(back.count() == 4)
    assert(back.columns.toSet == wh("Region").columns.toSet)
  }

  test("orc export round-trips with schema intact") {
    val wh = SuperstoreETL.build(spark, csv)
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Exporter.exportAll(Map("Shipping" -> wh("Shipping")), dir, format = "orc")
    val back = spark.read.orc(s"$dir/Shipping")
    assert(back.count() == 4)
    // nullability flags are not preserved by the format round-trip
    assert(back.schema.map(f => (f.name, f.dataType)) ==
           wh("Shipping").schema.map(f => (f.name, f.dataType)))
  }

  test("year-partitioned Item layout prunes partitions at the scan") {
    val wh = SuperstoreETL.build(spark, csv)
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Exporter.persistItemPartitioned(wh("Item"), wh("Calendar"), dir)
    val back = spark.read.parquet(s"$dir/Item_by_year")
    val one = back.filter(col("order_year") === 2016)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("order_year"),
      s"expected partition pruning in plan:\n${plan.take(800)}")
    // pruned read returns exactly the 2016 slice
    val expected = wh("Item")
      .join(wh("Calendar").select(col("calendar_id"), col("year_number")), "calendar_id")
      .filter(col("year_number") === 2016).count()
    assert(one.count() == expected)
  }

  test("compaction collapses a fragmented layout and preserves content; footers carry selective row-group stats") {
    val wh = SuperstoreETL.build(spark, csv)
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString
    // simulate an incremental writer: ~12 under-sized files per partition
    wh("Item")
      .join(broadcast(wh("Calendar").select(col("calendar_id"), col("year_number"))), "calendar_id")
      .withColumnRenamed("year_number", "order_year")
      .repartition(12)
      .write.mode("overwrite").partitionBy("order_year")
      .parquet(s"$frag/Item_by_year")
    val dst = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val (nBefore, nAfter) = Exporter.compactPartitioned(
      spark, s"$frag/Item_by_year", s"$dst/Item_by_year",
      Seq("order_year"), Seq("calendar_id"))
    assert(nBefore > nAfter, s"compaction did not shrink: $nBefore -> $nAfter")
    assert(nAfter <= 8, s"still fragmented: $nAfter files")
    // scan task count follows file count
    val tasksBefore = spark.read.parquet(s"$frag/Item_by_year").rdd.getNumPartitions
    val tasksAfter = spark.read.parquet(s"$dst/Item_by_year").rdd.getNumPartitions
    assert(tasksAfter < tasksBefore,
      s"scan tasks did not shrink: $tasksBefore -> $tasksAfter")
    // content identical (same rows, any order)
    val a = spark.read.parquet(s"$frag/Item_by_year")
    val b = spark.read.parquet(s"$dst/Item_by_year")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the compacted tree carries its own manifest (round 14): pruned
    // readers stay O(1)-read post-compact
    val mEntries = graft.sources.StatsManifest.read(s"$dst/Item_by_year").get
    assert(mEntries.size == nAfter &&
      mEntries.forall(_.stats.contains("calendar_id")))

    // footer audit: every row group of the SORTED layout carries min/max
    // stats on the clustered time key, and the per-file ranges are
    // selective — a point-year predicate on calendar_id intersects a
    // strict subset of files/row groups (what the reader's footer-level
    // pruning consumes; unsorted writes would carry full-range stats)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val ranges = files(new java.io.File(s"$dst/Item_by_year")).flatMap { f =>
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try rd.getFooter.getBlocks.asScala.map { block =>
        val cc = block.getColumns.asScala
          .find(_.getPath.toDotString == "calendar_id").get
        val st = cc.getStatistics
        assert(st != null && st.hasNonNullValue, s"missing stats in ${f.getName}")
        (st.genericGetMin.asInstanceOf[Number].longValue,
         st.genericGetMax.asInstanceOf[Number].longValue)
      } finally rd.close()
    }
    assert(ranges.nonEmpty)
    val probe = ranges.head._1 // an existing calendar_id
    val hit = ranges.count { case (lo, hi) => lo <= probe && probe <= hi }
    assert(hit < ranges.size,
      s"stats not selective: probe $probe intersects all ${ranges.size} row groups")
  }

  test("partitioned Item layout is manifest-backed: must-read == footer prune, pruned reader value-correct") {
    // round 14, VERDICT r13 #3: the last persisted structure pruning via
    // per-file footers joins StatsManifest — same pins as the clustered
    // layouts (StatsManifestSpec), here over a PARTITION TREE (relative
    // path names, basePath read keeping the partition column).
    import graft.sources.StatsManifest
    val wh = SuperstoreETL.build(spark, csv)
    val dir = java.nio.file.Files.createTempDirectory("graft_part_m").toString
    Exporter.persistItemPartitioned(wh("Item"), wh("Calendar"), dir)
    val loc = s"$dir/Item_by_year"
    val entries = StatsManifest.read(loc).get
    assert(entries.nonEmpty)
    assert(entries.forall(_.name.contains("order_year=")),
      "manifest names must be partition-relative paths")
    assert(entries.forall(_.stats.contains("calendar_id")),
      "every file must carry a calendar_id hull (sorted-within-partition write)")
    // probe: the middle third of the calendar_id domain
    val mm = spark.read.parquet(loc)
      .agg(min(col("calendar_id")), max(col("calendar_id"))).head
    val (dLo, dHi) = (mm.get(0).asInstanceOf[Number].longValue,
                      mm.get(1).asInstanceOf[Number].longValue)
    val lo = dLo + (dHi - dLo) / 3
    val hi = dLo + 2 * (dHi - dLo) / 3
    val preds = Seq(StatsManifest.Range("calendar_id", Some(lo), Some(hi)))
    // must-read == an independent footer prune over the same tree
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    def files(d: java.io.File, rel: String): Seq[(String, java.io.File)] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
        if (f.isDirectory) files(f, r)
        else if (f.getName.endsWith(".parquet")) Seq((r, f)) else Nil
      }
    val fromFooters = files(new java.io.File(loc), "").filter { case (_, f) =>
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        val hulls = rd.getFooter.getBlocks.asScala.map { b =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == "calendar_id").get.getStatistics
          (st.genericGetMin.asInstanceOf[Number].longValue,
           st.genericGetMax.asInstanceOf[Number].longValue)
        }
        hulls.map(_._1).min <= hi && hulls.map(_._2).max >= lo
      } finally rd.close()
    }.map(_._1).toSet
    val must = StatsManifest.mustRead(entries, preds).toSet
    assert(must == fromFooters, "manifest must-read != independent footer prune")
    assert(must.nonEmpty && must.size < entries.size,
      s"probe range not selective (${must.size}/${entries.size}) — test needs a real prune")
    // pruned reader: partition column survives the file-list read, rows
    // match the full scan under the same row-level filter
    val pruned = Exporter.readItemPruned(spark, dir, Some(lo), Some(hi))
    assert(pruned.columns.contains("order_year"),
      "basePath read must keep the partition column")
    assert(pruned.inputFiles.length == must.size)
    val p = pruned.filter(col("calendar_id").between(lo, hi))
    val full = spark.read.parquet(loc).filter(col("calendar_id").between(lo, hi))
    assert(p.count() == full.count() && p.exceptAll(full).isEmpty
      && full.exceptAll(p).isEmpty)
    // census guard: a foreign file disables pruning but never drops rows
    val alien = new java.io.File(loc).listFiles.filter(_.isDirectory)
      .head.toPath.resolve("alien.parquet")
    spark.read.parquet(loc).limit(1).drop("order_year").coalesce(1)
      .write.parquet(s"$dir/alien_tmp")
    val written = new java.io.File(s"$dir/alien_tmp").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(written.toPath, alien)
    val fb = Exporter.readItemPruned(spark, dir, Some(lo), Some(hi))
    assert(fb.inputFiles.length == entries.size + 1,
      "census mismatch must fall back to the FULL scan")
  }

  test("Item append story: delta lands in its year partitions, pruning correct, merged == rebuilt, policy folds") {
    // round 15, VERDICT r14 #3: the partitioned Item tree gets the
    // append + maintain discipline every other persisted structure has
    import graft.sources.StatsManifest
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    // "days": split Item by order year via the calendar FK — the base is
    // everything before 2017, the deltas are 2017 then 2018 (new days
    // landing in their year partitions, the deployment shape)
    def slice(p: org.apache.spark.sql.Column) =
      item.join(broadcast(cal.select(col("calendar_id"), col("year_number"))),
          "calendar_id")
        .filter(p).drop("year_number")
        .select(item.columns.map(col).toIndexedSeq: _*)
    val base = slice(col("year_number") < 2017)
    val d17 = slice(col("year_number") === 2017)
    val d18 = slice(col("year_number") === 2018)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_inc").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    val loc = s"$dir/Item_by_year"
    val files0 = StatsManifest.read(loc).get.size

    // day 1: 2017 lands — new partition dir, manifest refreshed, guard quiet
    Exporter.appendItemPartitioned(base.unionByName(d17), d17, cal, dir)
    val entries1 = StatsManifest.read(loc).get
    assert(entries1.size > files0, "delta must land as new files")
    assert(entries1.exists(_.name.startsWith("order_year=2017/")),
      "2017 rows must land under their year partition")
    assert(entries1.map(_.rows).sum == base.count() + d17.count())
    // pruning correctness over the appended state (census intact, no
    // fallback): pruned reader == full scan under the same filter
    val mm = spark.read.parquet(loc)
      .agg(min(col("calendar_id")), max(col("calendar_id"))).head
    val (dLo, dHi) = (mm.get(0).asInstanceOf[Number].longValue,
                      mm.get(1).asInstanceOf[Number].longValue)
    val (lo, hi) = (dLo + (dHi - dLo) / 3, dLo + 2 * (dHi - dLo) / 3)
    val pruned = Exporter.readItemPruned(spark, dir, Some(lo), Some(hi))
      .filter(col("calendar_id").between(lo, hi))
    val full = spark.read.parquet(loc).filter(col("calendar_id").between(lo, hi))
    assert(pruned.count() == full.count() && pruned.exceptAll(full).isEmpty)

    // day 2: 2018 lands
    Exporter.appendItemPartitioned(base.unionByName(d17).unionByName(d18),
      d18, cal, dir)

    // maintain: under the bound it holds…
    spark.conf.set("graft.partitioned.maxFilesPerPartition", "100")
    try {
      assert(Exporter.maintainItemPartitioned(spark, dir).isEmpty)
      // …past it it folds through the crash-forward swap
      spark.conf.set("graft.partitioned.maxFilesPerPartition", "1")
      // 2015's partition holds >1 file? base wrote one tree; appends added
      // whole-year files — force the trigger by bound 1 against ANY
      // multi-file partition, else the appends created only fresh dirs:
      // append a second 2018 batch to make that partition 2-file
      Exporter.appendItemPartitioned(
        base.unionByName(d17).unionByName(d18).unionByName(d18), d18, cal, dir)
      val folded = Exporter.maintainItemPartitioned(spark, dir)
      assert(folded.isDefined, "a partition past the file bound must fold")
      val (nb, na) = folded.get
      assert(na < nb)
      assert(Exporter.maintainItemPartitioned(spark, dir).isEmpty, "quiesced")
      // merged ≡ rebuilt: the maintained tree == a from-scratch persist
      val fresh = java.nio.file.Files.createTempDirectory("graft_item_rb").toString
      val merged = base.unionByName(d17).unionByName(d18).unionByName(d18)
      Exporter.persistItemPartitioned(merged, cal, fresh)
      val a = spark.read.parquet(loc)
      val b = spark.read.parquet(s"$fresh/Item_by_year")
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty
        && b.exceptAll(a).isEmpty, "maintained tree != rebuilt tree")
      // post-fold manifest is fresh (census == live files; pruning engages)
      val entries2 = StatsManifest.read(loc).get
      val p2 = Exporter.readItemPruned(spark, dir, Some(lo), Some(hi))
      assert(p2.inputFiles.length < entries2.size,
        "post-fold pruned read must engage (not the census fallback)")
    } finally spark.conf.unset("graft.partitioned.maxFilesPerPartition")
  }

  test("Item append heals an interrupted compaction swap instead of reading it as 'no layout'") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    val base = item.filter(col("calendar_id") % 10 =!= 0)
    val delta = item.filter(col("calendar_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_heal").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    val live = Paths.get(s"$dir/Item_by_year")
    // manufacture the mid-swap crash state: a COMPLETE compaction temp
    // (manifest present — the completion marker) with the live tree
    // already moved aside to .item_old and not yet replaced
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(live, Paths.get(s"$dir/.item_compact_tmp"))
    Files.move(live, Paths.get(s"$dir/.item_old"),
      StandardCopyOption.ATOMIC_MOVE)
    assert(!Files.exists(live))
    // the append must HEAL (promote the complete temp), then append
    Exporter.appendItemPartitioned(base.unionByName(delta), delta, cal, dir)
    assert(Files.exists(live))
    assert(!Files.exists(Paths.get(s"$dir/.item_compact_tmp")))
    assert(!Files.exists(Paths.get(s"$dir/.item_old")))
    val got = spark.read.parquet(live.toString)
      .select(item.columns.map(col).toIndexedSeq: _*)
    assert(got.count() == item.count())
    assert(got.exceptAll(item).isEmpty && item.exceptAll(got).isEmpty)
  }

  test("Item partition evolution: year → year-month past the bytes bound, readers transparent") {
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    val base = item.filter(col("calendar_id") % 10 =!= 0)
    val delta = item.filter(col("calendar_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_evo").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    val loc = s"$dir/Item_by_year"
    val itemCols = item.columns.map(col).toIndexedSeq
    def values() = spark.read.parquet(loc).select(itemCols: _*)
      .collect().map(_.mkString("|")).sorted.toSeq
    // normalize the fresh build under the files policy first (the many-
    // task ETL write legitimately trips it), then the tree is quiesced
    Exporter.maintainItemPartitioned(spark, dir)
    assert(Exporter.maintainItemPartitioned(spark, dir).isEmpty)
    val before = values()
    spark.conf.set("graft.partitioned.maxPartitionBytes", "1")
    try {
      assert(Exporter.maintainItemPartitioned(spark, dir).isEmpty,
        "evolution must not fire without the calendar (no month lookup)")
      val evolved = Exporter.maintainItemPartitioned(spark, dir, Some(cal))
      assert(evolved.isDefined, "a year partition past the bytes bound must evolve")
      // the tree is UNIFORMLY (year, month) now — every year dir holds
      // only month subdirs (Spark partition discovery needs one depth)
      val years = Option(new java.io.File(loc).listFiles).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("order_year="))
      assert(years.nonEmpty)
      assert(years.forall(y => Option(y.listFiles).toSeq.flatten
        .filter(_.isDirectory).forall(_.getName.startsWith("order_month="))))
      assert(spark.read.parquet(loc).columns.contains("order_month"))
      // pre/post-evolve parity: same rows, by value
      assert(values() == before, "evolution changed values")
      // month is the TERMINAL grain: the same bound does not re-fire
      assert(Exporter.maintainItemPartitioned(spark, dir, Some(cal)).isEmpty,
        "an evolved tree must quiesce under the same bytes bound")
      // ADVICE r16: month leaves collide across years under a leaf-NAME
      // census (order_month=M repeats per year) — with more years than
      // the file bound, the name-summed count refires a full-tree
      // rewrite on EVERY tick. Census must key by the (year, month)
      // RELATIVE path: bound = the true per-leaf max quiesces, even
      // though the name-keyed sum across years exceeds it.
      locally {
        def leafFiles(d: java.io.File, rel: String = ""): Seq[(String, String)] =
          Option(d.listFiles).toSeq.flatten.flatMap { f =>
            if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
            else if (f.isDirectory)
              leafFiles(f, if (rel.isEmpty) f.getName else s"$rel/${f.getName}")
            else if (f.getName.endsWith(".parquet")) Seq((rel, f.getName))
            else Nil
          }
        val perLeaf = leafFiles(new java.io.File(loc))
          .groupBy(_._1).view.mapValues(_.size).toMap
        val leafMax = perLeaf.values.max
        val nameMax = perLeaf.groupBy(_._1.split("/").last)
          .view.mapValues(_.values.sum).values.max
        assert(nameMax > leafMax,
          "fixture must actually collide month names across years")
        spark.conf.set("graft.partitioned.maxFilesPerPartition", leafMax.toString)
        try assert(Exporter.maintainItemPartitioned(spark, dir, Some(cal)).isEmpty,
          "post-evolution files census must key per (year, month) leaf, not leaf NAME")
        finally spark.conf.unset("graft.partitioned.maxFilesPerPartition")
      }
      // appends land at the NEW grain, conservation intact
      Exporter.appendItemPartitioned(base.unionByName(delta), delta, cal, dir,
        expectedSourceRows = Some(base.count() + delta.count()))
      val entries = graft.sources.StatsManifest.read(loc).get
      assert(entries.map(_.rows).sum == base.count() + delta.count())
      assert(entries.exists(e => e.name.matches(
        "order_year=\\d+/order_month=\\d+/.*\\.parquet")),
        s"append did not land under month partitions: ${entries.map(_.name).take(3)}")
      // manifest-routed pruned read stays value-correct across the grain
      val mm = spark.read.parquet(loc)
        .agg(min(col("calendar_id")), max(col("calendar_id"))).head
      val (dLo, dHi) = (mm.get(0).asInstanceOf[Number].longValue,
                        mm.get(1).asInstanceOf[Number].longValue)
      val (lo, hi) = (dLo + (dHi - dLo) / 3, dLo + 2 * (dHi - dLo) / 3)
      val pruned = Exporter.readItemPruned(spark, dir, Some(lo), Some(hi))
        .filter(col("calendar_id").between(lo, hi))
      val full = spark.read.parquet(loc).filter(col("calendar_id").between(lo, hi))
      assert(pruned.count() == full.count() && pruned.exceptAll(full).isEmpty)
    } finally spark.conf.unset("graft.partitioned.maxPartitionBytes")
  }

  test("heal restores .item_old in the SAME pass after discarding an incomplete temp") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // ADVICE r15: in the state {tmp present but incomplete, live missing,
    // .item_old present} the old heal discarded the temp and RETURNED —
    // the .item_old restore lived in an else-branch, so the append's
    // require() threw with a complete serving tree on disk.
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    val base = item.filter(col("calendar_id") % 10 =!= 0)
    val delta = item.filter(col("calendar_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_heal2").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    val live = Paths.get(s"$dir/Item_by_year")
    // manufacture the state: live moved aside, temp present WITHOUT its
    // manifest (an interrupted compaction build) — the only complete tree
    // is .item_old
    Files.move(live, Paths.get(s"$dir/.item_old"), StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(Paths.get(s"$dir/.item_compact_tmp"))
    Files.writeString(Paths.get(s"$dir/.item_compact_tmp/part-junk.parquet"), "x")
    // one append must heal (discard temp, restore .item_old) and append
    Exporter.appendItemPartitioned(base.unionByName(delta), delta, cal, dir)
    assert(Files.exists(live))
    assert(!Files.exists(Paths.get(s"$dir/.item_compact_tmp")))
    assert(!Files.exists(Paths.get(s"$dir/.item_old")))
    val got = spark.read.parquet(live.toString)
      .select(item.columns.map(col).toIndexedSeq: _*)
    assert(got.count() == item.count())
    assert(got.exceptAll(item).isEmpty && item.exceptAll(got).isEmpty)
  }

  test("Item append guard accepts a caller-supplied source count (metadata, not a recount)") {
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    val base = item.filter(col("calendar_id") % 10 =!= 0)
    val delta = item.filter(col("calendar_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_meta").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    // matched expected count: guard quiet, layout holds base+delta
    Exporter.appendItemPartitioned(item, delta, cal, dir,
      expectedSourceRows = Some(item.count()))
    val got = spark.read.parquet(s"$dir/Item_by_year")
      .select(item.columns.map(col).toIndexedSeq: _*)
    assert(got.count() == item.count())
    // a WRONG expected count must still trip the guard (loud rebuild from
    // `item` — the ledger's number disagreeing with the layout is exactly
    // the divergence the guard exists for)
    val half = delta.filter(col("calendar_id") % 20 === 0)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_item_meta2").toString
    Exporter.persistItemPartitioned(base, cal, dir2)
    Exporter.appendItemPartitioned(item, half, cal, dir2,
      expectedSourceRows = Some(item.count()))
    val got2 = spark.read.parquet(s"$dir2/Item_by_year")
      .select(item.columns.map(col).toIndexedSeq: _*)
    assert(got2.count() == item.count())
    assert(got2.exceptAll(item).isEmpty && item.exceptAll(got2).isEmpty)
  }

  test("Item append guard: an under-covering delta rebuilds, never a silent divergence") {
    val wh = SuperstoreETL.build(spark, csv)
    val item = wh("Item"); val cal = wh("Calendar")
    val base = item.filter(col("calendar_id") % 10 =!= 0)
    val delta = item.filter(col("calendar_id") % 10 === 0)
    val half = delta.filter(col("calendar_id") % 20 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_item_div").toString
    Exporter.persistItemPartitioned(base, cal, dir)
    // source of truth holds base+delta, but the caller hands only half
    Exporter.appendItemPartitioned(item, half, cal, dir)
    // the guard must have rebuilt from the full source
    val got = spark.read.parquet(s"$dir/Item_by_year")
      .select(item.columns.map(col).toIndexedSeq: _*)
    assert(got.count() == item.count())
    assert(got.exceptAll(item).isEmpty && item.exceptAll(got).isEmpty)
  }

  test("well-formed input produces zero rejects; a doctored row is quarantined") {
    val pre = SuperstoreETL.preprocess(SuperstoreETL.readRaw(spark, csv))
    val (calendar, _) = SuperstoreETL.calendarDims(pre)
    val customer = SuperstoreETL.customerDim(pre)
    val (_, _, location) = SuperstoreETL.geographyDims(pre)
    val (_, product) = SuperstoreETL.productDims(pre)

    assert(Exporter.itemRejects(pre, customer, product, calendar, location).count() == 0)

    // doctor one row: unknown customer code → exactly one Customer reject
    val doctored = pre.withColumn("Customer ID",
      when(col("Row ID") === 1, lit("ZZ-99999")).otherwise(col("Customer ID")))
    val rej = Exporter.itemRejects(doctored, customer, product, calendar, location)
    val rows = rej.collect()
    assert(rows.length == 1)
    assert(rows.head.getString(2) == "Customer")
    assert(rows.head.getInt(0) == 1)
  }
}
