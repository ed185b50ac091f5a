package graft

/** Driver-wall probe for the IVF build (round 17, VERDICT r16 #4).
  *
  * The build's lineage cut collects K×dim centroid doubles to the driver
  * per Lloyd iteration and broadcasts them for assignment
  * (IvfIndex.build / assignVia), with K = N/CellTarget — the one
  * long-horizon scale limit the audits have tracked since round 10. This
  * main MEASURES that footprint instead of assuming it: per rung (an
  * sfDir whose index it ensures, timing the build when absent) it
  * reports
  *   - `raw_bytes`      — K×dim×8, the information-theoretic floor
  *   - `jvm_bytes`      — SizeEstimator of the ACTUAL collected structure
  *     (Seq[(Int, Seq[Double])] — boxing multiplies the floor)
  *   - `ser_bytes`      — Java-serialized size ≈ the broadcast payload
  *   - `build_wall_s`   — full build wall when this run built the index
  * plus pure-math extrapolation rows (the measured jvm-bytes-per-
  * centroid slope applied at N = 10⁸ / 10⁹ / 4×10¹¹ ≈ 100 TB of 64-dim
  * float vectors) so the artifact states WHERE the curve crosses the
  * ~1 GiB driver/broadcast comfort line — the decision input for the
  * two-level centroid tree.
  *
  * Usage: runMain graft.IvfProbe <sfDir> [<sfDir> ...]
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    var slope = 0.0 // jvm bytes per centroid, from the largest measured rung
    args.foreach { sfDir =>
      val n = Tables.embeddingsCount(spark, sfDir)
      val k = graft.operators.IvfIndex.kFor(spark, sfDir)
      val dir = graft.operators.IvfIndex.indexDir(sfDir, k)
      val hadIndex = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/_meta.json"))
      val t0 = System.nanoTime()
      graft.operators.IvfIndex.ensure(spark, sfDir)
      val buildWall = if (hadIndex) -1.0 else (System.nanoTime() - t0) / 1e9
      // the exact structure the Lloyd loop holds: Seq[(Int, Seq[Double])]
      val centArr: Seq[(Int, Seq[Double])] =
        graft.operators.IvfIndex.centroids(spark, dir)
          .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
      val dim = centArr.head._2.length
      val raw = k.toLong * dim * 8
      val jvm = org.apache.spark.util.SizeEstimator.estimate(centArr)
      val ser = {
        val cnt = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(cnt)
        oos.writeObject(centArr); oos.close(); cnt.size().toLong
      }
      slope = jvm.toDouble / k
      println(
        s"""{"probe":"measured","sf_dir":"$sfDir","n":$n,"k":$k,"dim":$dim,""" +
        s""""raw_bytes":$raw,"jvm_bytes":$jvm,"ser_bytes":$ser,""" +
        s""""jvm_per_centroid":${math.rint(slope)},""" +
        s""""build_wall_s":${math.rint(buildWall * 10) / 10}}""")
      // the tree-dial comparison at the same rung (SPARK_GRAFT_PROBE_TREE=1):
      // driver-resident set = the COARSE centroids only (⌈√K⌉×dim) — the
      // bound the dial buys — plus the tree build's wall
      if (sys.env.get("SPARK_GRAFT_PROBE_TREE").contains("1")) {
        spark.conf.set("graft.ivf.tree", "1")
        try {
          val kc = graft.operators.IvfIndex.kcFor(k)
          val tDir = graft.operators.IvfIndex.indexDir(sfDir, k, tree = true)
          val tHad = java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$tDir/_meta.json"))
          val t1 = System.nanoTime()
          graft.operators.IvfIndex.ensure(spark, sfDir)
          val tWall = if (tHad) -1.0 else (System.nanoTime() - t1) / 1e9
          val coarseArr: Seq[(Int, Seq[Double])] =
            spark.read.parquet(s"$tDir/coarse.parquet")
              .as[(Int, Seq[Double])].collect().toSeq
          val jvmC = org.apache.spark.util.SizeEstimator.estimate(coarseArr)
          val nSubs = graft.operators.IvfIndex.centroids(spark, tDir).count()
          println(
            s"""{"probe":"measured_tree","sf_dir":"$sfDir","n":$n,"k":$k,"kc":$kc,""" +
            s""""n_subs":$nSubs,"raw_coarse_bytes":${kc.toLong * dim * 8},""" +
            s""""jvm_coarse_bytes":$jvmC,""" +
            s""""build_wall_s":${math.rint(tWall * 10) / 10}}""")
        } finally spark.conf.unset("graft.ivf.tree")
      }
    }
    // extrapolation at the measured slope: K = N/CellTarget, so the
    // driver/broadcast footprint is LINEAR in N at ~slope/CellTarget
    // bytes per corpus vector
    val ct = graft.operators.IvfIndex.CellTarget
    Seq(1e8, 1e9, 4e11).foreach { nBig =>
      val kBig = nBig / ct
      val jvmBig = kBig * slope
      println(
        s"""{"probe":"extrapolated","n":${nBig.toLong},"k":${kBig.toLong},""" +
        s""""jvm_bytes":${jvmBig.toLong},"jvm_gib":${math.rint(jvmBig / (1L << 30) * 100) / 100},""" +
        s""""crosses_1gib":${jvmBig > (1L << 30)}}""")
    }
    spark.stop()
  }
}
