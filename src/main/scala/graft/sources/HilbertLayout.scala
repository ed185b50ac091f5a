package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HilbertIdx

/** Hilbert-curve clustered lineitem copy — the k-dimensional
  * generalization of [[ZOrderLayout]] (which is 2-dim by construction: a
  * 16+16 bit Morton interleave). A workload slicing on THREE independent
  * dimensions needs footer stats selective on all three at once; with the
  * Morton ladder that means either widening the interleave
  * (straightforward) or moving to the Hilbert curve (this module): at
  * equal bits the Hilbert curve's unit-step adjacency keeps each
  * contiguous key range — each output file — a tighter box of the key
  * space, because the curve never takes Morton's bit-boundary jumps.
  *
  * Clustered on (l_partkey, day(l_shipdate), l_suppkey) — the three
  * independent slice dimensions of q77; 3 dims × 16 bits = a 48-bit
  * index, comfortably a long, and 65k cells per axis is far finer than
  * any file count. The lifecycle is [[ClusteredLayout]]'s; the seed
  * `h1|16` is the algorithm tag and the bits per dimension.
  */
object HilbertLayout extends ClusteredLayout("hilbert", "_h_ok", "h1|16") {

  protected def dims: Seq[Column] = Seq(col("l_partkey"),
    ClusteredLayout.dayOf(col("l_shipdate")), col("l_suppkey"))

  protected def curveKey(s: SparkSession, ranks: Seq[Column]): Column = {
    HilbertIdx.register(s)
    HilbertIdx.hilbert_idx(16, ranks: _*)
  }

  val StatsCols: Seq[String] = Seq("l_partkey", "l_shipdate", "l_suppkey")
}
