package graft.superstore

/** Warehouse CLI (the reference's `python etl.py` + notebook analog):
  * build the 15-table star schema from the CSV, persist as parquet, run
  * the 13-query workload.
  * Usage: runMain graft.superstore.SuperstoreMain <csvPath> <outDir> [query...]
  */
object SuperstoreMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SuperstoreMain <csvPath> <outDir> [queryName...]")
    val Array(csvPath, outDir) = args.take(2)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wh = WarehouseCache.write(SuperstoreETL.build(spark, csvPath), outDir)
    WarehouseCache.tableNames.foreach { name =>
      println(s"WAREHOUSE $name rows=${wh(name).count()}")
    }

    Queries13.registerViews(wh)
    val toRun = if (args.length > 2) args.drop(2).toSeq else Queries13.queries.keys.toSeq.sorted
    toRun.foreach { name =>
      val df = Queries13.queries(name)(wh)
      println(s"QUERY $name rows=${df.count()}")
      df.show(5, truncate = false)
    }
    spark.stop()
  }
}
