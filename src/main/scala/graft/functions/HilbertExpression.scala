package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{ColumnBridge, TypeBridge}
import org.apache.spark.sql.types._

/** d-DIMENSIONAL Hilbert index — the clustering curve next to Z-order
  * (Iceberg's `hilbert` transform). Consecutive indices are
  * Manhattan-adjacent cells, so the curve has no Z-order "seams" (the long
  * diagonal jumps where Morton adjacency breaks) and per-file [min, max]
  * envelopes come out tighter on average for box queries. Computed via the
  * public Skilling transform (J. Skilling, "Programming the Hilbert
  * curve", AIP Conf. Proc. 707, 2004): coordinates → transposed Hilbert
  * form in place (Gray code + per-level bit exchanges), then the index is
  * the bit-interleave of the transposed words. Iterative, allocation-light
  * (one n-long scratch array per row), and exact for any `n·bits ≤ 63` —
  * one code path for 2-D layouts and the (time, x, y)-style 3-D+ layouts a
  * raster archive clusters by.
  */
object HilbertN {
  /** Skilling AxestoTranspose, in place over `x` (n words of `bits` bits). */
  private def axesToTranspose(x: Array[Long], bits: Int): Unit = {
    val n = x.length
    val m = 1L << (bits - 1)
    // inverse undo
    var q = m
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1) {
      if ((x(n - 1) & q) != 0) t ^= q - 1
      q >>= 1
    }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
  }

  /** Skilling TransposetoAxes — the inverse, for the property tests. */
  private def transposeToAxes(x: Array[Long], bits: Int): Unit = {
    val n = x.length
    val m = 1L << bits
    // Gray decode by H ^ (H/2)
    val t0 = x(n - 1) >> 1
    var i = n - 1
    while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t0
    // undo excess work
    var q = 2L
    while (q != m) {
      val p = q - 1
      var j = n - 1
      while (j >= 0) {
        if ((x(j) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(j)) & p; x(0) ^= t; x(j) ^= t }
        j -= 1
      }
      q <<= 1
    }
  }

  /** Hilbert index of `coords` on the 2^bits grid (requires every
    * coordinate in [0, 2^bits) and `coords.length * bits <= 63`). */
  def index(coords: Array[Long], bits: Int): Long = {
    val n = coords.length
    val x = new Array[Long](n)
    System.arraycopy(coords, 0, x, 0, n)
    axesToTranspose(x, bits)
    var d = 0L
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) { d = (d << 1) | ((x(i) >> b) & 1L); i += 1 }
      b -= 1
    }
    d
  }

  /** d2axes — test-surface for bijectivity/adjacency locks. */
  def inverse(d: Long, bits: Int, n: Int): Array[Long] = {
    val x = new Array[Long](n)
    var pos = n * bits - 1
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) { x(i) |= ((d >> pos) & 1L) << b; pos -= 1; i += 1 }
      b -= 1
    }
    transposeToAxes(x, bits)
    x
  }
}

/** `hilbertN(bits, rank1, …, rankN)` as a Catalyst expression: evaluates
  * [[HilbertN.index]] once per row over long rank children (already
  * canonicalized to [0, 2^bits) by the caller — see
  * `Snapshots.cluster`). Codegen'd: one stack array + one
  * static call, no boxing on the hot path.
  */
case class HilbertNKey(children: Seq[Expression], bits: Int)
  extends Expression with ImplicitCastInputTypes {
  require(children.nonEmpty && children.size * bits <= 63,
    s"hilbertN: ${children.size} dims x $bits bits exceeds a signed long")

  override def inputTypes: Seq[TypeBridge.AbstractType] =
    Seq.fill(children.size)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "hilbert_n"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val coords = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      coords(i) = v.asInstanceOf[Long]
      i += 1
    }
    HilbertN.index(coords, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val cls = HilbertN.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("coords")
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"$arr[$i] = ${e.value};"
    }.mkString("\n")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          long[] $arr = new long[${children.size}];
          $fill
          ${ev.value} = $cls.index($arr, $bits);
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HilbertNKey =
    copy(children = newChildren)
}

object HilbertNFunctions {
  /** Hilbert key of N long rank columns on a 2^bits grid. */
  def hilbertN(bits: Int, ranks: Column*): Column =
    ColumnBridge.column(HilbertNKey(
      ranks.map(ColumnBridge.expression), bits))
}
