package graft

import org.apache.spark.sql.functions._

/** Deliberately sign-skewed embeddings corpus for the LSH split ladder
  * (round 15, VERDICT r14 #1): replicate `embeddings` `factor`× with
  * re-keyed ids (ScaleGen's key discipline), then force ~20% of rows
  * (vec_id % 5 == 0) to share ONE sign pattern over the first 16 dims
  * (abs() of dims 0..15) while dims 16..63 keep their natural signs.
  *
  * This is the boilerplate shape a real web corpus shows: template mass
  * that agrees on a prefix of the code dims but differs in content. At
  * any global resolution ≤ 16 bits the skewed rows pile into ONE base
  * bucket (f = 0.2 ⇒ ~f²N²/2 candidate pairs unsplit — the quadratic the
  * global N-derived gate cannot prevent); the per-bucket overflow split
  * discriminates them by the SUFFIX dims the concentration never
  * touched. Rows whose copies are exact duplicates stay together under
  * any sign code — true near-dups, i.e. output, the irreducible term the
  * ladder's numbers disclose.
  *
  * Output is embeddings-only (the ladder reads nothing else); multiple
  * files so scans split.
  *
  * Usage: runMain graft.SkewGen <srcDir> <dstDir> <factor>
  */
object SkewGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, src)
    val base = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val reps = (0 until factor).map { i =>
      emb.select((col("vec_id") + lit(i * base)).as("vec_id"),
                 col("embedding"), col("label"))
    }.reduce(_ union _)
    val skewed = reps.withColumn("embedding",
      when(col("vec_id") % 5 === 0,
        expr("transform(embedding, (x, i) -> IF(i < 16, abs(x), x))"))
      .otherwise(col("embedding")))
    skewed.repartition(8)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"SKEWGEN_DONE $dst factor=$factor")
    spark.stop()
  }
}
