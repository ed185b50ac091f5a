package graft

/** Dev diagnostics on Bench's session and scratch. Usage:
  *   runMain graft.BenchDiag phases q10_distinct_customers,...
  *   runMain graft.BenchDiag funnel
  *   runMain graft.BenchDiag mergeab
  */
object BenchDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val b0 = GraftSession.builder()
    // Same scratch + compression config as Bench (see Bench.shmLocalDir):
    // a diagnostic that measures on a different shuffle medium than the
    // bench diagnoses the medium, not the query.
    val compressOff = Bench.shmCompressOff
    val spark = Bench.shmLocalDir.fold(b0)(d => b0
      .config("spark.local.dir", d)
      .config("spark.shuffle.compress", (!compressOff).toString)
      .config("spark.shuffle.spill.compress", (!compressOff).toString)
      .config("spark.broadcast.compress", (!compressOff).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mode = args.head
    lazy val names = args(1).split(",").toSeq
    val qs = SparkEntry.queries

    mode match {
      case "phases" =>
        // Decompose the per-query noop-sink wall into Catalyst phases
        // (parse+analysis+optimization+planning, read from the write
        // QueryExecution's QueryPlanningTracker via a listener) vs the
        // execution residual (stages + AQE re-planning + commit). The
        // bench's floor term (pair_ratio light-query sum) is mostly NOT
        // data work; this names what it is. min-of-3 per component.
        val phaseNs = new java.util.concurrent.atomic.AtomicLong
        val ql = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              dur: Long): Unit =
            phaseNs.set(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
          override def onFailure(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              ex: Exception): Unit = ()
        }
        spark.listenerManager.register(ql)
        names.foreach { name =>
          val fn = qs(name)
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save() // warm
          val t = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val w = (System.nanoTime() - t0) / 1e9
            Thread.sleep(150) // listener bus is async; let onSuccess land
            (w, phaseNs.get / 1e3) // tracker phases are ms → seconds
          }
          val w = t.map(_._1).min; val ph = t.map(_._2).min
          println(f"PHASES $name%-28s wall=$w%.3f catalyst=$ph%.3f exec_residual=${w - ph}%.3f")
        }
        spark.listenerManager.unregister(ql)
      case "funnel" =>
        // q65 bloom pre-filter selectivity at this SF: how much of the
        // train side the exact confirm join actually sees
        val (nTrain, nMaybe, nHit) =
          graft.operators.TextOps.bloomDecontamFunnel(spark, sfDir)
        val fpr = (nMaybe - nHit).toDouble / math.max(1L, nTrain - nHit)
        println(f"FUNNEL train=$nTrain maybe=$nMaybe confirmed=$nHit " +
          f"fpr=$fpr%.5f join_fraction=${nMaybe.toDouble / nTrain}%.5f")
      case "mergeab" =>
        // Incremental merge apply vs the full-rebuild twin (rewrite the
        // complete new snapshot from source — the reference ETL's
        // posture) at this SF, for TWO delta shapes: q75's crawl delta
        // (new ids + churn band — deliberately large so correctness
        // covers every part-status case) and the churn-only delta (the
        // daily takedown/revision maintenance pass). Wall at box scale
        // is Spark job-count-bound; the structural claim is the BYTES
        // REWRITTEN column — the term that is IO on a cluster.
        import org.apache.spark.sql.functions._
        import graft.sources.SnapshotMerge
        val mx = Tables.documentsMaxId(spark, sfDir)
        val (bCut, rFl) = (SnapshotMerge.baseCut(mx), SnapshotMerge.churnFloor(mx))
        def dirBytes(d: String, pred: String => Boolean = _ => true): Long =
          Option(new java.io.File(d).listFiles).toSeq.flatten
            .filter(f => f.isDirectory && pred(f.getName))
            .flatMap(p => Option(p.listFiles).toSeq.flatten)
            .map(_.length).sum
        // endPred restricts the full-rebuild twin to the SAME end state
        // the delta produces (the churn delta has no new crawl, so its
        // rebuild twin must not write one — a review caught the earlier
        // version inflating full_rewrite for the churn row by ~25%)
        def run(tag: String, delta0: org.apache.spark.sql.DataFrame,
                endPred: org.apache.spark.sql.Column): Unit = {
          val base = java.nio.file.Files
            .createTempDirectory(s"graft_mergeab_$tag").toString
          SnapshotMerge.writeBase(spark, sfDir, s"$base/snap")
          // a production delta ARRIVES (a CDC manifest/delivery file);
          // deriving it from the corpus is this fixture's job, so it is
          // materialized OUTSIDE the timed apply (the full-rewrite twin
          // keeps its source scan — a full rebuild re-reads the source
          // by definition)
          delta0.write.mode("overwrite").parquet(s"$base/delta")
          val delta = spark.read.parquet(s"$base/delta")
          val touchedParts = delta.select("part").distinct()
            .collect().map(r => s"part=${r.getLong(0)}").toSet
          val t0 = System.nanoTime()
          val (touched, total) = SnapshotMerge.applyDiff(spark, s"$base/snap", delta)
          val tApply = (System.nanoTime() - t0) / 1e9
          val rewrit = dirBytes(s"$base/snap", touchedParts)
          val corpus = dirBytes(s"$base/snap")
          val t1 = System.nanoTime()
          Tables.documents(spark, sfDir)
            .filter(endPred)
            .filter(!(col("doc_id") > rFl && col("doc_id") <= bCut &&
                      col("doc_id") % 13 === 0 && col("doc_id") % 11 =!= 0))
            .select(col("doc_id"),
              when(col("doc_id") > rFl && col("doc_id") <= bCut &&
                   col("doc_id") % 11 === 0, upper(col("text")))
                .otherwise(col("text")).as("text"),
              SnapshotMerge.partOf(mx).as("part"))
            .repartition(SnapshotMerge.NParts, col("part"))
            .sortWithinPartitions("part", "doc_id")
            .write.mode("overwrite").partitionBy("part").parquet(s"$base/full")
          val tFull = (System.nanoTime() - t1) / 1e9
          println(f"MERGEAB $tag touched=$touched/$total " +
            f"bytes_rewritten=${rewrit / (1L << 20)}/${corpus / (1L << 20)}MiB " +
            f"(${100.0 * rewrit / corpus}%.0f%%) apply=$tApply%.2f " +
            f"full_rewrite=$tFull%.2f")
        }
        val full = SnapshotMerge.delta(spark, sfDir)
        run("crawl", full, lit(true))
        run("churn", full.filter(col("doc_id") <= bCut),
            col("doc_id") <= bCut)
    }
    spark.stop()
  }
}

/** Print the formatted physical plan of named queries. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // collect(), not count(): count() wraps the plan in ITS OWN
      // QueryExecution, so df.queryExecution never executes and both
      // explain forms below keep isFinalPlan=false — runtime exchange/
      // stage reuse (q79's twin membership) would be invisible. Outputs
      // at the explain SFs are small; the result is discarded.
      df.collect()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // FormattedMode renders the pre-adaptive operator tree even after
      // execution; the executed-plan tree shows the final stages,
      // including ReusedExchange/ShuffleQueryStage nodes.
      println("===== executed (AQE final) =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}

/** Per-stage wall/task-time breakdown of one query execution. */
object StageTime {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.scheduler._
    import scala.collection.mutable
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // NOOP sink (guide §1.4, matching Bench round 17+): count() prunes
    // everything cardinality-preserving above the last aggregation, so a
    // count-sink stage profile misses exactly the stages the bench bills.
    def runSink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      runSink(fn(spark, sfDir)); runSink(fn(spark, sfDir)) // warm
      val stages = mutable.ArrayBuffer[(Int, Long, Long, Int, String)]()
      val jobs = mutable.ArrayBuffer[(Int, Long, Long)]()
      val jobStart = mutable.Map[Int, Long]()
      val jobStages = mutable.Map[Int, Seq[Int]]()
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          stages += ((si.stageId, wall, si.taskMetrics.executorRunTime,
            si.numTasks, si.name.split(" ").head))
        }
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          jobStart(js.jobId) = js.time
          jobStages(js.jobId) = js.stageInfos.map(_.stageId).sorted
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          jobs += ((je.jobId, jobStart.getOrElse(je.jobId, je.time), je.time))
      }
      spark.sparkContext.addSparkListener(listener)
      // rebuild the shared dedup index inside the timed+listened region
      // (Bench does the same per pass) — otherwise the warmup above hides
      // the index-build stages of q34/q35/q37
      graft.operators.TextOps.invalidateSharedIndex()
      val t0 = System.nanoTime()
      runSink(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"===== $name total=$wall%.3f s, ${jobs.size} jobs, ${stages.size} stages")
      jobs.sortBy(_._1).foreach { case (id, s, e) =>
        println(f"  job $id%3d wall=${(e - s) / 1e3}%.3f s stages=${jobStages.getOrElse(id, Nil).mkString(",")}")
      }
      stages.sortBy(_._1).foreach { case (id, wall, run, n, nm) =>
        println(f"  stage $id%3d wall=${wall / 1e3}%.3f s taskSum=${run / 1e3}%.3f s tasks=$n%3d $nm")
      }
    }
    spark.stop()
  }
}
