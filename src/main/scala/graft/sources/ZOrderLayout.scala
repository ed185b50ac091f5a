package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered lineitem copy — MULTI-column data
  * skipping, the second physical-layout lever next to bucketing
  * (BucketedLayout) and single-key clustering
  * (Exporter.persistItemPartitioned).
  *
  * Interleaving the bit-ranks of TWO columns into one sort key makes each
  * output file cover a small axis-aligned rectangle of the (A, B) plane,
  * so footer stats are selective on BOTH columns at once: a predicate on
  * either dimension alone intersects O(√files) files instead of all of
  * them. At 100 TB the win is proportional: the same rewrite, file sizes
  * held at the row-group-friendly target, and every rectangle-shaped
  * slice query reads the O(√files) intersection instead of the corpus.
  *
  * Clustered on (l_partkey, day(l_shipdate)) — the two independent slice
  * dimensions of the part/time query family (q74). The lifecycle is
  * [[ClusteredLayout]]'s; the `z1` seed is the algorithm tag.
  */
object ZOrderLayout extends ClusteredLayout("zorder", "_z_ok", "z1") {

  protected def dims: Seq[Column] =
    Seq(col("l_partkey"), ClusteredLayout.dayOf(col("l_shipdate")))

  /** Interleaved z-value: even bits carry A's rank, odd bits B's. */
  protected def curveKey(s: SparkSession, ranks: Seq[Column]): Column =
    spread16(ranks(0)).bitwiseOR(shiftleft(spread16(ranks(1)), 1))

  /** Spread the low 16 bits of a long column to the even bit positions
    * 0,2,…,30 — the classic Morton mask ladder, all codegen'd long ops. */
  private def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (x, (sh, mask)) =>
        x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
      }

  val StatsCols: Seq[String] = Seq("l_partkey", "l_shipdate")
}
