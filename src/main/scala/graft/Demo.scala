package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventsStream
import graft.operators.Multimodal
import graft.functions.DotProduct

/** Library-surface demo: exercises the streaming, multimodal and custom-
  * expression APIs the way a downstream user would.
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder()
      // deployment-grade function registration (vs per-session register())
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. watermarked streaming aggregation, run to completion on the static table
    val hourly = EventsStream.runHourly(spark, dir, "demo_hourly")
    println(s"DEMO streaming_hourly rows=${hourly.count()}")
    hourly.orderBy("hour", "event_type").show(3, truncate = false)

    // 2. stateful sessionization through the typed API
    val sessions = EventsStream.runSessions(spark, dir)
    println(s"DEMO sessions rows=${sessions.count()} " +
      s"events=${sessions.agg(sum("n_events")).head().getLong(0)}")

    // 3. multimodal decode stub through the typed partition-wise operator
    val feats = Multimodal.decodeFeatures(Multimodal.binaryized(spark, dir))
    println(s"DEMO multimodal rows=${feats.count()}")

    // 4. custom expression from SQL text — resolved via GraftExtensions
    // (no explicit register() call in this session)
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("emb")
    val norm = spark.sql(
      """SELECT vec_id, dot_product(transform(embedding, x -> CAST(x AS DOUBLE)),
        |                           transform(embedding, x -> CAST(x AS DOUBLE))) AS norm2
        |FROM emb ORDER BY vec_id LIMIT 3""".stripMargin)
    norm.show(truncate = false)

    // 5. foreachBatch incremental hourly fact (append partials + merge view)
    val incrDir = java.nio.file.Files.createTempDirectory("demo_incr").toString
    EventsStream.runIncrementalHourly(spark, dir, incrDir)
    val incr = EventsStream.readIncrementalHourly(spark, incrDir)
    println(s"DEMO incremental_hourly rows=${incr.count()}")

    // probe: second streaming run with the SAME query name in one session
    try {
      val again = EventsStream.runHourly(spark, dir, "demo_hourly")
      println(s"DEMO rerun_same_name rows=${again.count()}")
    } catch {
      case e: Exception => println(s"DEMO rerun_same_name failed: ${e.getMessage.take(120)}")
    }

    // 6. the custom whole-operator band join through its DataFrame API
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val banded = graft.plans.BandJoin.bandJoin(purchases, clicks,
      Seq("user_id" -> "c_user"), "purchase_ts", "click_ts", -3600L * 1000000, 0L)
    println(s"DEMO band_join rows=${banded.count()} " +
      s"plan_has_BandJoin=${banded.queryExecution.executedPlan.toString.contains("BandJoin")}")

    // 7. near-dup clustering + survivor election over documents
    val clusters = graft.operators.TextOps.q37_neardup_clusters(spark, dir)
    println(s"DEMO neardup_clusters docs=${clusters.count()} " +
      s"survivors=${clusters.filter(col("is_survivor")).count()}")

    // 8. the presentation xlsx export, round-trippable by any xlsx reader
    val whDir = java.nio.file.Files.createTempDirectory("demo_wh").toString
    System.setProperty("graft.wh.dir", whDir)
    val wh = graft.superstore.WarehouseCache.get(spark)
    graft.superstore.Exporter.exportXlsx(wh, s"$whDir/superstore_dw_export.xlsx")
    println(s"DEMO xlsx_export bytes=${new java.io.File(s"$whDir/superstore_dw_export.xlsx").length()}")
    spark.stop()
  }
}
