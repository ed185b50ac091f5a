package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Product-quantization (PQ) index over the embeddings table — the
  * compressed-vector half of the canonical 100 TB ANN layout (IVF-PQ):
  * each 64-dim vector is encoded as [[M]] one-byte codes, one per
  * [[Dsub]]-dim subspace, against per-subspace codebooks of [[Kc]]
  * centroids. Search scores candidates with an asymmetric-distance (ADC)
  * lookup — 8 table reads per vector instead of 64 multiplies, over an
  * 8 B/vector table instead of 512 B — then exact-re-ranks the survivors
  * (VectorOps.q66_pq_ann).
  *
  * Build mirrors [[IvfIndex]]'s discipline exactly: deterministic k-means
  * per subspace (init = sub-slices of the first [[Kc]] vectors, fixed
  * Lloyd iterations, ties to the smaller centroid id; an emptied cell
  * keeps its previous centroid), persisted as
  *   - `codebooks.parquet` — (m INT, cid INT, cv ARRAY<DOUBLE>[Dsub])
  *   - `codes.parquet`     — (vec_id, code ARRAY<INT>[M])
  * The per-iteration collect is M×Kc×Dsub doubles (the bounded lineage
  * cut), and the persisted codebooks+codes are the ORACLE BOUNDARY: ADC
  * and re-rank replay as plain SQL over those two tables, so q66 is
  * hash-checked, not rows-only.
  */
object PqIndex {

  val M = 8      // subspaces
  val Dsub = 8   // dims per subspace (embeddings are 64-dim)
  val Kc = 16    // codewords per subspace
  val Iters = 3

  /** Config-addressed index location (same rationale as IvfIndex). */
  def indexDir(sfDir: String, m: Int = M, kc: Int = Kc, iters: Int = Iters): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|pq|$m|$kc|$iters".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"/root/repo/target/pq_index/$h"
  }

  private val VECD = "transform(embedding, x -> CAST(x AS DOUBLE))"
  /** Native codegen'd sqdist — bit-identical to the composed form (see
    * functions.SqDist). */
  private def sqdist = graft.functions.SqDist.sq_dist(col("sv"), col("cv"))

  /** Train + persist codebooks and codes for `sfDir` into `dir`. */
  def build(s: SparkSession, sfDir: String, dir: String): Unit = {
    import s.implicits._
    graft.functions.Natives.registerAll(s)
    val sub = embeddings(s, sfDir)
      .select(col("vec_id"), expr(VECD).as("v"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${M - 1}), m -> named_struct(" +
          s"'m', CAST(m AS INT), 'sv', slice(v, m * $Dsub + 1, $Dsub)))")).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))

    var cent: Map[(Int, Int), Seq[Double]] = sub.filter(col("vec_id") < Kc)
      .select(col("m"), col("vec_id").cast(IntegerType).as("cid"), col("sv"))
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (m, cid, cv) => (m, cid) -> cv }.toMap

    // no hint here: the codebook is also written as-is below, and a
    // broadcast hint on a frame that is not a join side is dropped with a
    // HintErrorLogger warning
    def centDf(c: Map[(Int, Int), Seq[Double]]): DataFrame =
      c.toSeq.map { case ((m, cid), cv) => (m, cid, cv) }
        .toDF("m", "cid", "cv")

    def assign(c: Map[(Int, Int), Seq[Double]]): DataFrame =
      assignCells(sub, centDf(c))

    for (_ <- 1 to Iters) {
      val updated = assign(cent)
        .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "cid", "pos").agg(avg(col("x")).as("mu"))
        .groupBy("m", "cid")
        .agg(expr("transform(array_sort(collect_list(named_struct('p', pos, 'mu', mu))), t -> t.mu)").as("cv"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (m, cid, cv) => (m, cid) -> cv }.toMap
      // an emptied cell keeps its previous centroid — the codebook always
      // carries all M×Kc entries (the flat LUT layout depends on it)
      cent = cent.map { case (k, old) => k -> updated.getOrElse(k, old) }
    }

    val codes = assign(cent)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(named_struct('m', m, 'cid', cid))), t -> t.cid)").as("code"))

    Files.createDirectories(Paths.get(dir))
    centDf(cent).coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks.parquet")
    codes.coalesce(1).write.mode("overwrite").parquet(s"$dir/codes.parquet")
    Files.writeString(Paths.get(s"$dir/_meta.json"),
      s"""{"sfDir":"$sfDir","pq":true,"m":$M,"kc":$Kc,"iters":$Iters}""")
  }

  /** Nearest centroid per (vec_id, m) sub-vector, ties to the smaller
    * cid: `sub` (vec_id, m, sv) joined to the broadcast M×Kc codebook
    * `cent` (m, cid, cv). */
  private[graft] def assignCells(sub: DataFrame, cent: DataFrame): DataFrame =
    sub.join(broadcast(cent), Seq("m"))
      .withColumn("d2", sqdist)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "m").orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)

  def ensure(s: SparkSession, sfDir: String): String = synchronized {
    val dir = indexDir(sfDir)
    val meta = Paths.get(s"$dir/_meta.json")
    val want = s"""{"sfDir":"$sfDir","pq":true,"m":$M,"kc":$Kc,"iters":$Iters}"""
    if (!Files.exists(meta) || Files.readString(meta) != want)
      build(s, sfDir, dir)
    dir
  }

  def codebooks(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/codebooks.parquet")

  def codes(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/codes.parquet")

  /** The codebook flattened to M·Kc·Dsub doubles ordered by (m, cid, j) —
    * the driver-side literal q66 embeds so the per-query LUT computes
    * in-row (M×Kc×Dsub = 1024 doubles: a plan constant, not data). */
  def flatCodebook(s: SparkSession, indexDir: String): Seq[Double] = {
    import s.implicits._
    codebooks(s, indexDir)
      .as[(Int, Int, Seq[Double])].collect()
      .sortBy { case (m, cid, _) => (m, cid) }
      .flatMap(_._3).toSeq
  }
}
