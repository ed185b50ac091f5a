package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType}

/** A persisted, curve-clustered lineitem copy — MULTI-column data skipping
  * from plain parquet footers. A single-column sort gives tight footer
  * min/max stats on that column only; ordering rows by a space-filling
  * curve over several columns' ranks makes each contiguous key range —
  * hence each output file — cover a small box of the dimension space, so
  * footer stats are selective on EVERY clustered dimension at once. This
  * is the lakehouse `OPTIMIZE ZORDER BY` lever at plain-parquet level: no
  * table format needed, the reader's ordinary footer-stats row-group
  * skipping (and a cluster catalog's file-level pruning) consumes it
  * as-is.
  *
  * One lifecycle, shared by every curve: content address, legacy vacuum,
  * stamp-checked [[ensure]], guarded O(delta) [[appendDelta]], the
  * probe-bloat [[maintain]] policy and [[recluster]]. A curve supplies
  * only its `name` (root dir under target/, `[name]` log prefix and
  * Maintenance family), completion `marker`, address `seed`, [[dims]],
  * [[curveKey]] and [[StatsCols]] — see [[ZOrderLayout]] (2-dim Morton)
  * and [[HilbertLayout]] (3-dim Hilbert).
  *
  * The curve value is LAYOUT-ONLY: it orders rows and is dropped before
  * the write, so no query result depends on its arithmetic (the 16-bit
  * rank uses one double multiply; fine for placement, never for
  * answers). q74's and q77's oracles run the same slices against the
  * PLAIN table in DuckDB, which hash-pins each copy's value-faithfulness.
  */
abstract class ClusteredLayout(val name: String, marker: String,
                               seed: String) {

  /** The clustered dimensions, each long-valued after a cast. */
  protected def dims: Seq[Column]

  /** The curve position of one row from its dims' 16-bit ranks. */
  protected def curveKey(s: SparkSession, ranks: Seq[Column]): Column

  /** Manifest-tracked pruning columns: the clustered dimensions — the
    * only columns whose file hulls the layout makes tight. */
  val StatsCols: Seq[String]

  private val root = new java.io.File("target", name).getAbsolutePath

  /** Write `df` clustered on [[dims]]: one tiny bounds agg, rank each dim,
    * range-partition by the curve key so each output file covers one
    * contiguous curve range = one small box of the dimension space, sort
    * within for tight row-group stats, drop the key. Timestamps are
    * written as stats-bearing TIMESTAMP_MICROS (INT96 carries no footer
    * min/max — the whole point of the layout is those stats). */
  def write(df: DataFrame, out: String, files: Int): Unit = {
    val longs = dims.map(_.cast(LongType))
    val aggs = longs.flatMap(d => Seq(min(d), max(d)))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val key = curveKey(df.sparkSession, longs.zipWithIndex.map { case (d, i) =>
      ClusteredLayout.rank16(d, bounds.getLong(2 * i), bounds.getLong(2 * i + 1))
    })
    ClusteredLayout.withMicros(df.sparkSession) {
      df.withColumn("__curve", key)
        .repartitionByRange(files, col("__curve"))
        .sortWithinPartitions("__curve")
        .drop("__curve")
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Content address: source path + algorithm seed ONLY (round 13 — the
    * pre-r13 seed also baked in the size-derived FILE COUNT, which made
    * the address drift with source size: a grown source that crossed a
    * file-count boundary silently orphaned the old dir, and one that
    * did NOT cross was SERVED STALE. Identity is now the (source, algo)
    * pair; size is a build-time choice recorded by the files themselves,
    * and freshness is the `_layout_meta` source stamp). The seed names
    * the algorithm: any change to the curve or the write shape must
    * retire previously persisted dirs (the BuildTag lesson from the IVF
    * index — NOTES_r11 §5). */
  private def locFor(sfDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    s"$root/$h/lineitem"
  }

  /** Dirs of retired addressing schemes, vacuumed once per JVM. */
  private lazy val vacuumed: Int = LayoutMeta.vacuumLegacy(root, marker)

  /** Ensure the clustered lineitem copy for `sfDir` exists. File count is
    * size-driven (`graft.zorder.targetBytes`, default 128 MB —
    * row-group-friendly at deployment scale; the 16-file floor keeps the
    * curve's boxes real at test scale). Marker-cached AND stamp-checked:
    * reused while the source stamp matches `_layout_meta`, REBUILT when
    * it doesn't ([[appendDelta]] is the incremental alternative that
    * advances the stamp for O(delta) cost). */
  def ensure(s: SparkSession, sfDir: String): String = synchronized {
    vacuumed
    val targetBytes =
      s.conf.get("graft.zorder.targetBytes", (128L << 20).toString).toLong
    val files = math.max(16, math.ceil(
      graft.Tables.tableBytes(sfDir, "lineitem").toDouble / targetBytes).toInt)
    val loc = locFor(sfDir)
    val done = Paths.get(s"$loc/$marker")
    val stamp = graft.Tables.pathStamp(s"$sfDir/lineitem.parquet")
    if (Files.exists(done) && LayoutMeta.stamp(loc).contains(stamp)) {
      if (!Files.exists(Paths.get(s"$loc/${StatsManifest.FileName}")))
        StatsManifest.write(s, loc, StatsCols) // pre-manifest backfill
    } else {
      val dir = Paths.get(loc)
      if (Files.exists(dir)) graft.Fs.deleteTree(dir) // stale or partial
      write(graft.Tables.lineitem(s, sfDir), loc, files)
      StatsManifest.write(s, loc, StatsCols)
      // the freshly-clustered tightness IS the recluster policy's floor;
      // the domains recorded WITH it anchor the live metric's denominator
      // so outlier deltas can't shrink existing hull ratios (ADVICE r15)
      val fresh = StatsManifest.read(loc)
      val doms = fresh.fold(Map.empty[String, (Long, Long)])(
        StatsManifest.domainsOf(_, StatsCols))
      val floor = fresh.map(StatsManifest.pointProbeBytes(_, StatsCols, doms))
      LayoutMeta.write(loc, sfDir, "lineitem", stamp, floor, doms)
      Files.writeString(done, "ok")
    }
    loc
  }

  /** O(delta) maintenance: cluster the DELTA rows among themselves (own
    * bounds — placement only) into row-count-proportional new files, move
    * them in, refresh the stats manifest (the new files' hulls are true,
    * so pruning stays correct — merely less tight than a full recluster),
    * and advance the source stamp LAST (a crash before it leaves the stamp
    * old → next ensure rebuilds; a crash between the file move and the
    * manifest leaves a census mismatch → prunedScan falls back to the
    * full scan, loudly — every crash point degrades to correct). Caller
    * contract matches BucketedLayout.appendDelta: `delta` is exactly the
    * rows added to the source since the recorded stamp. Periodic full
    * recluster = [[recluster]]. */
  def appendDelta(s: SparkSession, sfDir: String, delta: DataFrame): Unit =
    synchronized {
      val loc = locFor(sfDir)
      require(Files.exists(Paths.get(s"$loc/$marker")),
        s"appendDelta: no persisted $name layout at $loc — ensure first")
      // size delta files to the layout's own rows-per-file
      val entries = StatsManifest.read(loc).getOrElse(Seq.empty)
      val rowsPerFile = math.max(1L,
        if (entries.isEmpty) Long.MaxValue
        else entries.map(_.rows).sum / entries.size)
      val deltaRows = delta.count()
      val files = math.max(1, math.ceil(deltaRows.toDouble / rowsPerFile).toInt)
      val tmp = s"$loc/.append_tmp"
      graft.Fs.deleteTree(Paths.get(tmp))
      write(delta, tmp, files)
      Option(new java.io.File(tmp).listFiles).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(s"$loc/${f.getName}")))
      graft.Fs.deleteTree(Paths.get(tmp))
      StatsManifest.write(s, loc, StatsCols)
      // row-conservation guard (round 14 — BucketedLayout.appendDelta's
      // discipline applied curve-side): never advance the stamp over a
      // layout that diverged from the source beyond the supplied delta.
      // Both sides are metadata the append already paid for.
      val layoutRows = StatsManifest.read(loc).map(_.map(_.rows).sum).getOrElse(-1L)
      val sourceRows = graft.Tables.tableRows(s, sfDir, "lineitem")
      if (layoutRows != sourceRows) {
        System.err.println(
          s"[$name] appendDelta divergence: layout holds $layoutRows rows, " +
          s"source holds $sourceRows — reclustering from source.")
        recluster(s, sfDir)
      } else
        // stamp advance CARRIES the recorded recluster floor — appends
        // bloat the live metric, never the baseline
        LayoutMeta.write(loc, sfDir, "lineitem",
          graft.Tables.pathStamp(s"$sfDir/lineitem.parquet"),
          LayoutMeta.probeFloor(loc), LayoutMeta.floorDomains(loc))
    }

  /** Recluster POLICY (round 15, VERDICT r14 #2 — the exact symmetry of
    * BucketedLayout.maintain): appendDelta keeps values correct but every
    * delta batch is clustered only among itself, so its file hulls span
    * ~the whole dimension space and pruning tightness decays
    * monotonically. The trigger is computable from the manifest alone:
    * the point-probe expected must-read bytes
    * ([[StatsManifest.pointProbeBytes]]) against the floor recorded at
    * the last (re)cluster — recluster when metric > k·floor
    * (`graft.cluster.maxProbeBloat`, default 3: ~two full-file
    * equivalents of accumulated delta hull mass before a fold, the same
    * few-ingest-days cadence as the bucketed family's 4-files bound).
    * Pre-policy layouts (meta without a floor) get the CURRENT state
    * recorded as baseline and fold on the next qualifying tick. Returns
    * Some((metric, floor)) when a recluster ran, None otherwise. */
  def maintain(s: SparkSession, sfDir: String): Option[(Double, Double)] =
    synchronized {
      val loc = locFor(sfDir)
      StatsManifest.read(loc) match {
        case None => None // no manifest → nothing to decide from
        case Some(entries) =>
          // metric against the domains recorded at the last (re)cluster
          // (pre-r16 meta: live domains until the next recluster records
          // one — ADVICE r15, see LayoutMeta.anchoredProbeBytes)
          val metric = LayoutMeta.anchoredProbeBytes(loc, entries, StatsCols)
          LayoutMeta.probeFloor(loc) match {
            case None =>
              LayoutMeta.write(loc, sfDir, "lineitem",
                LayoutMeta.stamp(loc).getOrElse(0L), Some(metric),
                StatsManifest.domainsOf(entries, StatsCols))
              None
            case Some(floor) =>
              val k = s.conf.get("graft.cluster.maxProbeBloat", "3.0").toDouble
              if (floor > 0 && metric > k * floor) {
                recluster(s, sfDir)
                Some((metric, floor))
              } else None
          }
      }
    }

  /** Full recluster — the compaction analog: drop the copy and rebuild
    * from the (current) source; delta files fold back into the curve. */
  def recluster(s: SparkSession, sfDir: String): String = synchronized {
    graft.Fs.deleteTree(Paths.get(locFor(sfDir)))
    ensure(s, sfDir)
  }
}

object ClusteredLayout {

  /** 16-bit rank of `c` within [lo, hi] (linear scale; the double
    * intermediate is overflow-free for any long domain and affects row
    * PLACEMENT only). Degenerate domains collapse to rank 0. */
  private def rank16(c: Column, lo: Long, hi: Long): Column =
    if (hi <= lo) lit(0L)
    else ((c - lit(lo)).cast(DoubleType) * (65535.0 / (hi - lo).toDouble))
      .cast(LongType)

  /** Run `f` with the session writing parquet timestamps as
    * TIMESTAMP_MICROS, restoring the prior value after. The setting is
    * session-wide, so every layout's swap takes THIS one lock: two
    * layouts writing at once on one session would otherwise interleave
    * their save/set/restore — the later writer saves MICROS as "prior"
    * and leaves the session at MICROS, or writes INT96 (no footer stats)
    * after the earlier one restored. Lock order is always layout, then
    * this object, so the nesting cannot deadlock. */
  private def withMicros[T](s: SparkSession)(f: => T): T = synchronized {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = s.conf.get(key)
    s.conf.set(key, "TIMESTAMP_MICROS")
    try f finally s.conf.set(key, prev)
  }

  /** Epoch-day rank dimension for a timestamp column (build-time only). */
  private[sources] def dayOf(c: Column): Column =
    datediff(c.cast(DateType), lit("1970-01-01").cast(DateType)).cast(LongType)
}
