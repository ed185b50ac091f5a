package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the testdata star: replicates every table
  * `factor`× with re-keyed ids into a new directory, producing a ~sf1
  * dataset from sf0.1 for scaling evidence (the driver ships no sf1).
  *
  * Key discipline: each replica i offsets every surrogate/foreign key by
  * i·(max+1) CONSISTENTLY across tables, so referential integrity and
  * per-key group sizes are preserved — the scaled data stresses volume,
  * not pathological key collisions. nation/region (fixed domains) are
  * copied as-is; replica facts keep their dates/timestamps so the date
  * domain (calendar size) stays constant, like real growth.
  *
  * documents/embeddings replicate with offset ids and UNchanged
  * text/vectors — i.e. a corpus that is (factor−1)/factor exact+near
  * duplicates. That is a deliberately adversarial dedup workload: every
  * shingle's df multiplies by `factor`, so the df-cap and LSH banding
  * must do their anti-quadratic job or the candidate join explodes.
  *
  * Output is written with multiple files per table (multi-row-group at
  * real scale), so scans split — unlike the driver's single-row-group
  * files, this matches how a real 100 TB table lays out.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    /** Replicate df `factor`×, adding i·base(col) to each listed key. */
    def replicate(df: DataFrame, keyBases: Map[String, Long],
                  parts: Int): DataFrame = {
      val reps = (0 until factor).map { i =>
        df.select(df.columns.map { c =>
          keyBases.get(c) match {
            case Some(base) => (col(c) + lit(i * base)).as(c)
            case None       => col(c)
          }
        }.toIndexedSeq: _*)
      }
      reps.reduce(_ union _).repartition(parts)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name done")
    }

    val li = Tables.lineitem(spark, src)
    val ord = Tables.orders(spark, src)
    val cust = Tables.customer(spark, src)
    val part_ = Tables.part(spark, src)
    val supp = Tables.supplier(spark, src)
    val oBase = maxOf(ord, "o_orderkey")
    val cBase = maxOf(cust, "c_custkey")
    val pBase = maxOf(part_, "p_partkey")
    val sBase = maxOf(supp, "s_suppkey")

    write(replicate(li, Map("l_orderkey" -> oBase, "l_partkey" -> pBase,
      "l_suppkey" -> sBase), parts = 16), "lineitem")
    write(replicate(ord, Map("o_orderkey" -> oBase, "o_custkey" -> cBase),
      parts = 8), "orders")
    write(replicate(cust, Map("c_custkey" -> cBase), parts = 4), "customer")
    write(replicate(part_, Map("p_partkey" -> pBase), parts = 4), "part")
    write(replicate(supp, Map("s_suppkey" -> sBase), parts = 2), "supplier")
    write(Tables.nation(spark, src), "nation")
    write(Tables.region(spark, src), "region")

    // events: normalize whatever on-disk ts form the source generation
    // uses (nanos-long / naive µs / instant — Tables.events handles all)
    // to a micros TIMESTAMP on write so the scaled copy is a plain
    // timestamp table readable by both engines
    val ev = Tables.events(spark, src)
    val eBase = maxOf(ev, "event_id")
    val uBase = maxOf(ev, "user_id")
    write(replicate(ev, Map("event_id" -> eBase, "user_id" -> uBase),
      parts = 8), "events")

    val docs = Tables.documents(spark, src)
    val dBase = maxOf(docs, "doc_id")
    write(replicate(docs, Map("doc_id" -> dBase), parts = 8), "documents")
    val emb = Tables.embeddings(spark, src)
    val vBase = maxOf(emb, "vec_id")
    write(replicate(emb, Map("vec_id" -> vBase), parts = 4), "embeddings")

    println(s"SCALEGEN_DONE $dst factor=$factor")
    spark.stop()
  }
}
