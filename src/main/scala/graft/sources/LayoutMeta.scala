package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

/** `_layout_meta` handling for [[ClusteredLayout]] (z-order, Hilbert) —
  * the same source-stamp discipline BucketedLayout carries in
  * `_bkt_meta`: a layout dir records the stamp of the source files it
  * reflects, ensure REBUILDS on mismatch (a changed source must never be
  * served a stale clustered copy — before round 13 these layouts were
  * content-addressed by file COUNT, so a source change that kept the
  * count was served stale), and the delta-append path advances the stamp
  * instead. Meta is written LAST in every maintenance sequence, so a
  * crash mid-append leaves the stamp old → the next ensure rebuilds
  * rather than trusting a half-appended layout. */
private[graft] object LayoutMeta {

  val FileName = "_layout_meta"

  /** `probeFloor` (round 15, VERDICT r14 #2) is the point-probe expected
    * must-read bytes of the layout as last (re)clustered
    * ([[StatsManifest.pointProbeBytes]]) — the recluster policy's
    * baseline: appends may only bloat the live metric so far over this
    * floor before `maintain` folds the deltas back into the curve.
    * Recorded at build/recluster, carried through by appendDelta's stamp
    * advance, absent on pre-policy layouts (maintain backfills). */
  def write(loc: String, sfDir: String, table: String, stamp: Long,
            probeFloor: Option[Double] = None,
            floorDomains: Map[String, (Long, Long)] = Map.empty): Unit = {
    val tmp = Paths.get(s"$loc/.$FileName.tmp")
    val floorField = probeFloor.fold("")(f => s""","probeFloor":$f""")
    val domField =
      if (floorDomains.isEmpty) ""
      else floorDomains.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s""""$c":[$mn,$mx]""" }.mkString(""","floorDomains":{""", ",", "}")
    Files.writeString(tmp,
      s"""{"sfDir":"$sfDir","table":"$table","sourceStamp":$stamp$floorField$domField}""")
    Files.move(tmp, Paths.get(s"$loc/$FileName"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private val stampRe = "\"sourceStamp\":(-?\\d+)".r
  def stamp(loc: String): Option[Long] = {
    val p = Paths.get(s"$loc/$FileName")
    if (!Files.exists(p)) None
    else stampRe.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong)
  }

  private val floorRe = "\"probeFloor\":(-?[0-9.eE+-]+)".r
  def probeFloor(loc: String): Option[Double] = {
    val p = Paths.get(s"$loc/$FileName")
    if (!Files.exists(p)) None
    else floorRe.findFirstMatchIn(Files.readString(p)).map(_.group(1).toDouble)
  }

  /** The tracked-column domains recorded at the last (re)cluster — the
    * fixed denominator the recluster policy normalizes floor AND live
    * metric against (round 16, ADVICE r15: a live-recomputed domain lets
    * an outlier delta widen the denominator and defer the fold). Empty on
    * pre-r16 layouts — callers fall back to the live domain there, the
    * documented pre-policy behavior until the next recluster records one. */
  private val domRe = "\"([A-Za-z0-9_.]+)\":\\[(-?\\d+),(-?\\d+)\\]".r
  def floorDomains(loc: String): Map[String, (Long, Long)] = {
    val p = Paths.get(s"$loc/$FileName")
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.readString(p)
      s.indexOf("\"floorDomains\":") match {
        case -1 => Map.empty
        case i => domRe.findAllMatchIn(s.substring(i + 15)).map(m =>
          m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
      }
    }
  }

  /** The recluster policy's metric: point-probe bytes against the
    * RECORDED floor domains when the meta carries them, else the live
    * domains (pre-r16 layouts, until their next recluster). One helper so
    * maintain(), the ladder, and the specs all read the same quantity. */
  def anchoredProbeBytes(loc: String, entries: Seq[StatsManifest.Entry],
                         cols: Seq[String]): Double = {
    val doms = floorDomains(loc)
    if (doms.nonEmpty) StatsManifest.pointProbeBytes(entries, cols, doms)
    else StatsManifest.pointProbeBytes(entries, cols)
  }

  /** One-time vacuum of a layout family root: delete hash dirs whose
    * build COMPLETED under a retired addressing scheme (every table dir
    * has the layout's completion `marker` but no `meta` file — the
    * clustered layouts' `_layout_meta`, BucketedLayout's `_bkt_meta`).
    * In-progress dirs (no marker) are left alone. Deleting is always
    * safe — the next ensure rebuilds from source. Returns the number of
    * dirs removed. */
  def vacuumLegacy(root: String, marker: String,
                   meta: String = FileName): Int = {
    var n = 0
    Option(new java.io.File(root).listFiles).toSeq.flatten
      .filter(_.isDirectory).foreach { hashDir =>
        val tables = Option(hashDir.listFiles).toSeq.flatten.filter(_.isDirectory)
        val legacy = tables.nonEmpty && tables.forall { t =>
          new java.io.File(t, marker).isFile &&
            !new java.io.File(t, meta).isFile
        }
        if (legacy) {
          System.err.println(
            s"[layout] vacuuming legacy-scheme dir ${hashDir.getPath}")
          graft.Fs.deleteTree(hashDir.toPath)
          n += 1
        }
      }
    n
  }
}
