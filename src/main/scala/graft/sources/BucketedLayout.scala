package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucket-co-located persisted layout for the repeated lineitem⋈part join
  * family (q4/q9/q9b/q22/q27 — round 11, VERDICT r10 #5).
  *
  * At bench scale those queries broadcast the dimension and shuffle
  * nothing; past the broadcast budget (part is ~1 GB at sf30-equivalent
  * scale and grows with the data) every run re-shuffles BOTH sides on the
  * join key. That re-shuffle is a LAYOUT cost, not a query cost: the
  * standard 100 TB lever is to pay it once — persist both tables bucketed
  * by the join key with the same bucket count — after which every join in
  * the family reads co-located buckets and the planner inserts no
  * Exchange on either side (HashClusteredDistribution is satisfied by the
  * scan itself; BucketedLayoutSpec pins the plan).
  *
  * Mechanics: `bucketBy(n, key).sortBy(key)` via `saveAsTable` with an
  * explicit external path (bucket ids ride in the file names, data
  * outlives the in-memory catalog entry). The frame is pre-partitioned by
  * the SAME hash the bucketer applies (both are HashPartitioning /
  * Murmur3), so each write task holds exactly one bucket — ONE file per
  * bucket. The EXCHANGES — the term that scales with the data — are gone,
  * and with `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (set
  * at session build by every entry point in this repo, round 13) the
  * in-partition merge-join Sorts go too: Spark propagates the bucket sort
  * order exactly when every selected bucket holds ≤ 1 file — its own
  * guard, which [[appendDelta]]'s multi-file state trips automatically,
  * so delta-carrying layouts fall back to sorting instead of trusting a
  * concatenated read order (BucketedLayoutSpec pins both sides of the
  * guard). A fresh JVM finds the `_bkt_ok` marker and re-registers the
  * existing files with `CREATE TABLE ... CLUSTERED BY` DDL instead of
  * rewriting.
  *
  * INCREMENTAL MAINTENANCE (round 13 — VERDICT r12 #1): a daily ingest at
  * 100 TB cannot re-sort two full copies of the largest fact, so the
  * layout maintains like the CoW snapshot does:
  *
  *  - [[appendDelta]] routes ONLY the new rows to their buckets — the
  *    delta is pre-partitioned by the bucketer's hash and appended, so
  *    each touched bucket gains one delta file (cost O(delta), measured
  *    in EXPLAIN_r13). Multi-file buckets are already the reader
  *    contract (scan partitioning is per bucket ID, not per file; sort
  *    order was never assumed — see above), so gated plans keep their
  *    zero-Exchange shape unchanged.
  *  - [[compactBuckets]] periodically folds each bucket's file set back
  *    to one file per bucket WITHOUT a shuffle: the bucketed scan is
  *    forced (one input partition per bucket), the planned write's own
  *    per-partition sort restores full bucket order, and the swap is the
  *    StateCompaction crash-forward pattern — compacted files + a
  *    `.consumed` manifest land under a dot-prefix temp dir before any
  *    old file is deleted, and [[finishPendingCompact]] (run on every
  *    ensure/append/compact entry) completes an interrupted swap forward.
  *
  * Staleness: each layout dir carries a `_bkt_meta` file recording its
  * identity AND a stamp of the source files it was built from.
  * [[ensureTable]] rebuilds when the recorded stamp no longer matches the
  * source (a changed source dir must never serve a stale layout);
  * [[appendDelta]] advances the stamp instead — its contract is that
  * `delta` is exactly the rows added to the source since the recorded
  * stamp, so merged ≡ rebuilt (spec-pinned by oracle hash in
  * BucketedIncrementSpec).
  *
  * Bucket count is a layout-time choice: fixed here (content-addressed
  * with the directory), while a deployment sizes it so a bucket's share
  * of the FACT table stays a few hundred MB per task at target scale.
  *
  * RISK NOTE (round 14, VERDICT r13 #5): the sort-free merge joins ride
  * `spark.sql.legacy.bucketedTableScan.outputOrdering`, a legacy conf a
  * future Spark major may remove — BucketedLayoutSpec's zero-Sort plan
  * assertion is the upgrade tripwire (an upgrade that drops the conf
  * fails the suite loudly, never merges unsorted), and [[compactBuckets]]
  * restores the ≤1-file-per-bucket eligibility the conf requires.
  */
object BucketedLayout {

  val Buckets = 32

  private val Root = "/root/repo/target/bucketed"

  private def hash(seed: String, buckets: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$buckets".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  private def locOf(h: String, table: String) = s"$Root/$h/$table"
  private def nameOf(table: String, h: String) = s"graft_${table}_bkt_$h"

  // ---------------------------------------------------------- meta file

  /** `_bkt_meta`: the layout's identity (seed fields) + the source stamp
    * it reflects. Presence also marks the dir as CURRENT-scheme — the
    * legacy vacuum (below) uses its absence to identify dirs persisted
    * under retired content-address schemes. */
  private def writeMeta(loc: String, sfDir: String, table: String,
                        key: String, buckets: Int, stamp: Long): Unit = {
    val tmp = Paths.get(s"$loc/._bkt_meta.tmp")
    Files.writeString(tmp,
      s"""{"sfDir":"$sfDir","table":"$table","key":"$key",""" +
      s""""buckets":$buckets,"sourceStamp":$stamp}""")
    Files.move(tmp, Paths.get(s"$loc/_bkt_meta"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private val stampRe = "\"sourceStamp\":(-?\\d+)".r
  private def readStamp(loc: String): Option[Long] = {
    val p = Paths.get(s"$loc/_bkt_meta")
    if (!Files.exists(p)) None
    else stampRe.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong)
  }

  private def sourceStamp(sfDir: String, table: String): Long =
    graft.Tables.pathStamp(s"$sfDir/$table.parquet")

  // ------------------------------------------------------ legacy vacuum

  /** One-time cleanup of layout dirs persisted under RETIRED addressing
    * schemes (the r12 seed change 'sfDir|buckets' → 'sfDir|table|key|
    * buckets' orphaned every pre-r12 dir; this round's `_bkt_meta`
    * introduction retires the meta-less r12 dirs the same way — they
    * carry no source stamp, so their freshness can't be judged). A dir
    * is vacuumed only when its build COMPLETED under an old scheme
    * (`_bkt_ok` present, `_bkt_meta` absent): an in-progress build has
    * neither and is left alone. Deleting is always safe — the next
    * ensure rebuilds from source. Runs once per JVM, before the first
    * registration, so no live catalog entry can point at a vacuumed dir. */
  private lazy val vacuumed: Int =
    LayoutMeta.vacuumLegacy(Root, "_bkt_ok", "_bkt_meta")

  // ------------------------------------------------------------ ensure

  private def registerDdl(s: SparkSession, name: String, key: String,
                          buckets: Int, loc: String): Unit = {
    val ddl = s.read.parquet(loc).schema.toDDL
    s.sql(s"""CREATE TABLE $name ($ddl) USING PARQUET
              CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
              LOCATION '$loc'""")
  }

  /** Generic single-table ensure: `table` bucketed+sorted by `key`,
    * content-addressed by (sfDir, table, key, buckets) — one source table
    * can have several bucketed copies under DIFFERENT keys (lineitem by
    * l_partkey for the partkey family, by l_orderkey for the orderkey
    * family); each is a distinct layout with its own address. Builds the
    * files once per config; re-registers only on a fresh catalog;
    * REBUILDS when the source stamp no longer matches `_bkt_meta` (a
    * changed source must never serve a stale layout — incremental
    * ingests advance the stamp through [[appendDelta]] instead). */
  def ensureTable(s: SparkSession, sfDir: String, table: String,
                  key: String, buckets: Int = Buckets): String = synchronized {
    vacuumed
    val h = hash(s"$sfDir|$table|$key", buckets)
    val name = nameOf(table, h)
    val loc = locOf(h, table)
    val stamp = sourceStamp(sfDir, table)
    // Heal a crashed compaction BEFORE any fast-path (ADVICE r13): an
    // in-process compactBuckets failure mid-swap leaves the registered
    // table pointing at a partially swapped directory — the fresh-stamp
    // early return below must never serve that state. Cheap when clean
    // (one existence check); on an actual heal the registered table's
    // cached file listing is refreshed.
    if (finishPendingCompact(loc) && s.catalog.tableExists(name))
      s.catalog.refreshTable(name)
    val fresh = readStamp(loc).contains(stamp)
    if (s.catalog.tableExists(name)) {
      if (fresh) return name
      s.sql(s"DROP TABLE $name") // stale registration: rebuild below
    }
    if (Files.exists(Paths.get(s"$loc/_bkt_ok")) &&
        readStamp(loc).contains(stamp)) {
      // files already on disk from a previous JVM and still current:
      // register only
      registerDdl(s, name, key, buckets, loc)
      // manifest backfill for dirs persisted before StatsManifest existed
      if (!Files.exists(Paths.get(s"$loc/${StatsManifest.FileName}")))
        StatsManifest.write(s, loc, Seq(key))
    } else {
      val dir = Paths.get(loc)
      if (Files.exists(dir)) graft.Fs.deleteTree(dir) // stale or partial
      graft.Tables.table(s, sfDir, table)
        // pre-cluster by the bucketer's own hash → one bucket per
        // task → one file per bucket (tasks×buckets files otherwise,
        // the partitionBy lesson applied to bucketing)
        .repartition(buckets, col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", loc)
        .saveAsTable(name)
      StatsManifest.write(s, loc, Seq(key))
      writeMeta(loc, sfDir, table, key, buckets, stamp)
      Files.writeString(Paths.get(s"$loc/_bkt_ok"), "ok")
    }
    name
  }

  // ------------------------------------------------- incremental append

  /** Append `delta` to the persisted layout, routing each row to its
    * bucket — the O(delta) ingest path. Each touched bucket gains one
    * delta file (the delta is pre-partitioned by the bucketer's hash, so
    * a write task holds exactly one bucket); untouched buckets are not
    * rewritten. Advances the recorded source stamp to the CURRENT source:
    * the caller's contract is that `delta` is exactly the rows appended
    * to the source since the layout's recorded stamp (the same contract a
    * CDC consumer keeps — BucketedIncrementSpec pins merged ≡ rebuilt by
    * value). The gated queries' plans are unchanged: bucketed-scan
    * partitioning is per bucket ID regardless of files-per-bucket, and
    * bucket sort order was never assumed (module scaladoc). Run
    * [[compactBuckets]] periodically to fold delta files back to one per
    * bucket. */
  def appendDelta(s: SparkSession, sfDir: String, table: String,
                  key: String, delta: DataFrame,
                  buckets: Int = Buckets): String = synchronized {
    val h = hash(s"$sfDir|$table|$key", buckets)
    val name = nameOf(table, h)
    val loc = locOf(h, table)
    require(Files.exists(Paths.get(s"$loc/_bkt_ok")),
      s"appendDelta: no persisted layout at $loc — run ensureTable first " +
        "(appending into a missing layout would silently build from the " +
        "delta alone)")
    finishPendingCompact(loc)
    if (!s.catalog.tableExists(name)) registerDdl(s, name, key, buckets, loc)
    delta
      .repartition(buckets, col(key))
      .write.mode("append")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", loc)
      .saveAsTable(name)
    StatsManifest.write(s, loc, Seq(key))
    // Row-conservation guard (ADVICE r13, medium): advancing the stamp
    // blindly would MASK a source that changed beyond the supplied delta
    // (a second batch landed, an update/delete, a partial ingest) —
    // ensureTable would then treat the diverged layout as fresh and
    // silently serve wrong results, the exact failure the stamp exists to
    // prevent. The invariant `layout rows == source rows` is checked from
    // metadata the append already paid for: the layout side is the fresh
    // stats manifest's row sum (zero extra I/O), the source side one
    // memoized count (Tables.tableRows — maintenance-time, not plan-time).
    // It catches every cardinality-changing divergence; an equal-count
    // row REPLACEMENT still needs the caller's CDC contract, which is why
    // the contract stays documented rather than "validated".
    val layoutRows = StatsManifest.read(loc).map(_.map(_.rows).sum).getOrElse(-1L)
    val sourceRows = graft.Tables.tableRows(s, sfDir, table)
    if (layoutRows != sourceRows) {
      System.err.println(
        s"[bucketed] appendDelta divergence on $table/$key: layout holds " +
        s"$layoutRows rows, source holds $sourceRows — the delta was not " +
        "exactly the rows added since the recorded stamp. Rebuilding from " +
        "source (never advancing a stamp over a diverged layout).")
      s.sql(s"DROP TABLE IF EXISTS $name")
      graft.Fs.deleteTree(Paths.get(loc))
      return ensureTable(s, sfDir, table, key, buckets)
    }
    // stamp AFTER the data: a crash between the append and this line
    // leaves the stamp stale → next ensureTable rebuilds (never serves a
    // half-appended layout as current)
    writeMeta(loc, sfDir, table, key, buckets, sourceStamp(sfDir, table))
    s.catalog.refreshTable(name)
    name
  }

  /** Compaction POLICY (round 14, VERDICT r13 #2): fold delta files back
    * when any bucket's file count exceeds `graft.bucketed.maxFilesPerBucket`
    * (default 4 — ~4 ingest days between folds at one delta file per
    * bucket per day). The trigger is the same shape as BandIngest's
    * rebuild threshold: a cheap name-only census, compared to a conf'd
    * bound, acted on at maintenance entry — so a daily `appendDelta +
    * maintain` loop keeps file counts bounded and periodically restores
    * the ≤1-file-per-bucket sort-free plan eligibility without anyone
    * deciding "when" by hand. Returns Some((before, after)) when a
    * compaction ran, None when the census is under the bound. */
  def maintain(s: SparkSession, sfDir: String, table: String, key: String,
               buckets: Int = Buckets): Option[(Int, Int)] = {
    val bound = s.conf.getOption("graft.bucketed.maxFilesPerBucket")
      .map(_.toInt).getOrElse(4)
    if (maxFilesPerBucket(s, sfDir, table, key, buckets) > bound)
      Some(compactBuckets(s, sfDir, table, key, buckets))
    else None
  }

  // --------------------------------------------------------- compaction

  private def dataFiles(loc: String): Seq[java.io.File] =
    Option(new java.io.File(loc).listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)

  /** Data files per layout — specs and the maintenance A/B read it. */
  def fileCount(s: SparkSession, sfDir: String, table: String, key: String,
                buckets: Int = Buckets): Int =
    dataFiles(locOf(hash(s"$sfDir|$table|$key", buckets), table)).size

  // bucket id rides in the file name: part-00000-<uuid>_00031.c000...
  private val bucketIdRe = "_(\\d{5})\\.".r
  private def bucketOf(name: String): Int =
    bucketIdRe.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(-1)

  /** files-per-bucket census from the file names — the compaction
    * policy's trigger signal. */
  private def bucketFileCounts(loc: String): Map[Int, Int] =
    dataFiles(loc).groupBy(f => bucketOf(f.getName)).map { case (b, fs) =>
      (b, fs.size) }

  /** Max files held by any single bucket (0 on an empty layout). */
  def maxFilesPerBucket(s: SparkSession, sfDir: String, table: String,
                        key: String, buckets: Int = Buckets): Int = {
    val c = bucketFileCounts(locOf(hash(s"$sfDir|$table|$key", buckets), table))
    if (c.isEmpty) 0 else c.values.max
  }

  /** Complete (or discard) an interrupted compaction swap at `loc` —
    * StateCompaction.finishPendingSwap's shape on a bucketed dir. A temp
    * WITHOUT a `.consumed` manifest wrote no manifest ⇒ no old file was
    * deleted ⇒ discard and redo later. A temp WITH one may hold the only
    * copy of folded buckets ⇒ finish forward: delete the listed old
    * files (idempotently) and move the compacted files in. Returns true
    * iff a swap was completed FORWARD (live files changed — callers with
    * a registered table must refresh its cached listing). */
  private def finishPendingCompact(loc: String): Boolean = {
    val tmp = Paths.get(s"$loc/.compact_tmp")
    if (!Files.exists(tmp)) return false
    val man = tmp.resolve(".consumed")
    if (Files.exists(man) && Files.exists(tmp.resolve("_SUCCESS"))) {
      Files.readAllLines(man).forEach(old =>
        Files.deleteIfExists(Paths.get(s"$loc/$old")))
      dataFiles(tmp.toString).foreach { f =>
        Files.move(f.toPath, Paths.get(s"$loc/${f.getName}"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      // the compacted manifest was computed over the temp's files (same
      // names after the move) — it replaces the pre-compaction one
      val mf = tmp.resolve(StatsManifest.FileName)
      if (Files.exists(mf))
        Files.move(mf, Paths.get(s"$loc/${StatsManifest.FileName}"),
          StandardCopyOption.REPLACE_EXISTING)
      graft.Fs.deleteTree(tmp)
      true
    } else { graft.Fs.deleteTree(tmp); false }
  }

  /** Fold every bucket's file set back to ONE file per bucket, without a
    * shuffle: force the bucketed scan (one input partition per bucket —
    * `autoBucketedScan` would otherwise fall back to split-based
    * scheduling for a plain read and scatter buckets across tasks), let
    * the planned bucketed write's own per-partition sort restore full
    * bucket order, and swap crash-forward (see [[finishPendingCompact]]).
    * Values are untouched — BucketedIncrementSpec pins compacted ≡
    * appended by result hash and re-pins the zero-Exchange plans.
    * Returns (files before, files after). No-op when already compact. */
  def compactBuckets(s: SparkSession, sfDir: String, table: String,
                     key: String, buckets: Int = Buckets): (Int, Int) =
    synchronized {
      val h = hash(s"$sfDir|$table|$key", buckets)
      val name = nameOf(table, h)
      val loc = locOf(h, table)
      finishPendingCompact(loc)
      val before = dataFiles(loc)
      // compactness is a PER-BUCKET property (ADVICE r13): with a sparse
      // key domain fewer buckets than Buckets are populated, so a total-
      // count test (`before.size <= buckets`) would let delta files
      // accumulate forever without ever folding — and the ≤1-file-per-
      // bucket sort-free fast path would never re-engage
      if (bucketFileCounts(loc).valuesIterator.forall(_ <= 1))
        return (before.size, before.size)
      if (!s.catalog.tableExists(name)) registerDdl(s, name, key, buckets, loc)
      val tmpLoc = s"$loc/.compact_tmp"
      val tmpName = s"${name}_compact"
      val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = s.conf.getOption(confKey)
      s.conf.set(confKey, "false") // force one scan partition per bucket
      try {
        s.sql(s"DROP TABLE IF EXISTS $tmpName")
        s.table(name)
          .write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", tmpLoc)
          .saveAsTable(tmpName)
        s.sql(s"DROP TABLE $tmpName") // external: files stay under tmpLoc
      } finally prev match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
      // manifest over the compacted files, while they still live in tmp
      // (names survive the move)
      StatsManifest.write(s, tmpLoc, Seq(key))
      // point of no return, placed atomically: from here a crash is
      // completed FORWARD by finishPendingCompact, never rolled back
      val manTmp = Paths.get(s"$tmpLoc/.consumed.writing")
      Files.writeString(manTmp, before.map(_.getName).mkString("\n"))
      Files.move(manTmp, Paths.get(s"$tmpLoc/.consumed"),
        StandardCopyOption.ATOMIC_MOVE)
      finishPendingCompact(loc)
      s.catalog.refreshTable(name)
      (before.size, dataFiles(loc).size)
    }

  /** Ensure the (lineitem, part) pair for `sfDir` exists bucketed by the
    * partkey; returns the catalog table names. */
  def ensure(s: SparkSession, sfDir: String,
             buckets: Int = Buckets): (String, String) =
    (ensureTable(s, sfDir, "lineitem", "l_partkey", buckets),
     ensureTable(s, sfDir, "part", "p_partkey", buckets))

  /** Ensure the (lineitem, orders) pair for `sfDir` exists bucketed by the
    * ORDER key — the second join/agg family's co-location (q2/q6/q19/q20/
    * q28 all shuffle lineitem and/or orders on the orderkey; see
    * Relational.liOrdersBucketed for the gate). */
  def ensureOrderkey(s: SparkSession, sfDir: String,
                     buckets: Int = Buckets): (String, String) =
    (ensureTable(s, sfDir, "lineitem", "l_orderkey", buckets),
     ensureTable(s, sfDir, "orders", "o_orderkey", buckets))
}
