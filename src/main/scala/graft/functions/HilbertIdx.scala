package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `hilbert_idx(bits, d0, d1, …)` — the Hilbert-curve index of a k-dim
  * point whose coordinates are already ranked to `bits` bits each
  * (graft.sources.ClusteredLayout does the ranking). Layout-only, like
  * ZOrderLayout's z-value: it orders rows at write time and is dropped
  * before the write, so no query result depends on it — but it still gets
  * the native-expression treatment (eval + doGenCode + spec-pinned
  * properties) because a build over 100 TB runs it per row.
  *
  * Why Hilbert over Morton for 3+ dims: both give every file an
  * axis-aligned box of the key space, but Morton's curve takes long jumps
  * at bit boundaries, so a contiguous key range (= one output file) can
  * cover two far-apart boxes; the Hilbert curve moves one grid step at a
  * time (unit-step adjacency, spec-pinned), keeping each file's box tight
  * — measurably fewer must-read bytes for the same rectangle slice as
  * dimensionality grows. Algorithm: the public-domain Skilling transform
  * ("Programming the Hilbert curve", J. Skilling, AIP Conf. Proc. 707,
  * 2004) — axes → transposed-Hilbert, then bit-interleave.
  *
  * k·bits must fit a signed long (k·bits ≤ 62 enforced at construction).
  */
case class HilbertIdx(dims: Seq[Expression], bits: Int) extends Expression {
  require(dims.nonEmpty && bits > 0 && dims.size * bits <= 62,
    s"hilbert_idx needs 1+ dims and k*bits <= 62, got k=${dims.size} bits=$bits")

  override def children: Seq[Expression] = dims
  override def dataType: DataType = LongType
  override def nullable: Boolean = dims.exists(_.nullable)
  override def prettyName: String = "hilbert_idx"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (dims.forall(_.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hilbert_idx requires bigint dims, got " +
        dims.map(_.dataType.simpleString).mkString(", "))

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Long](dims.size)
    var i = 0
    while (i < dims.size) {
      val v = dims(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertIdx.compute(xs, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val evals = dims.map(_.genCode(ctx))
    val arr = ctx.freshName("hx")
    val childCode = evals.map(_.code.toString).mkString("\n")
    val fills = evals.zipWithIndex
      .map { case (e, i) => s"$arr[$i] = ${e.value};" }.mkString("\n")
    val call =
      s"""long[] $arr = new long[${dims.size}];
         |$fills
         |${ev.value} = graft.functions.HilbertIdx.compute($arr, $bits);""".stripMargin
    if (nullable) {
      val anyNull = evals.map(_.isNull.toString).mkString(" || ")
      ev.copy(code =
        code"""
          $childCode
          boolean ${ev.isNull} = $anyNull;
          long ${ev.value} = -1L;
          if (!${ev.isNull}) {
            $call
          }""")
    } else {
      ev.copy(code =
        code"""
          $childCode
          long ${ev.value} = -1L;
          $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dims = newChildren)
}

object HilbertIdx {
  /** Skilling encode: coords (each masked to `bits`) → Hilbert index.
    * MUTATES a private copy; pure to callers. Shared verbatim by eval and
    * the generated code, so the two paths cannot diverge. */
  def compute(coords: Array[Long], bits: Int): Long = {
    val n = coords.length
    val x = new Array[Long](n)
    val keep = (1L << bits) - 1
    var i = 0
    while (i < n) { x(i) = coords(i) & keep; i += 1 }
    // axes -> transposed Hilbert (Skilling 2004): inverse undo, then Gray
    var q = 1L << (bits - 1)
    while (q > 1L) {
      val p = q - 1L
      i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p // invert
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t } // exchange
        i += 1
      }
      q >>= 1
    }
    i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1L) {
      if ((x(n - 1) & q) != 0L) t ^= q - 1L
      q >>= 1
    }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // interleave the transpose (x(0) carries the most significant bit of
    // each bits-group) into the scalar index
    var h = 0L
    var j = bits - 1
    while (j >= 0) {
      i = 0
      while (i < n) { h = (h << 1) | ((x(i) >>> j) & 1L); i += 1 }
      j -= 1
    }
    h
  }

  /** Column-API entry: `hilbert_idx(bits, dims…)` on already-ranked long
    * columns. Direct expression construction via the registry (the other
    * natives' call_function pattern; requires [[register]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Natives.ensure(spark, "hilbert_idx") { exprs =>
      val b = exprs.head.eval(null) match {
        case i: Int => i
        case other  => throw new IllegalArgumentException(
          s"hilbert_idx bits must be an integer literal, got $other")
      }
      HilbertIdx(exprs.tail, b)
    }

  def hilbert_idx(bits: Int, dims: Column*): Column =
    org.apache.spark.sql.functions.call_function(
      "hilbert_idx",
      (org.apache.spark.sql.functions.lit(bits) +: dims): _*)
}
