package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert curve index of a quantized 2-D point, as a native codegen'd
  * expression — the measured alternative to [[graft.sources.ZOrder]]'s
  * bit interleave. The Hilbert transform is the classic iterative
  * rotate-and-fold (one pass over the `order` bit levels, O(1) state),
  * which is mutable-register-shaped: it cannot be folded into a pure
  * Column expression the way Z's interleave can, so it lives here as a
  * custom Expression (SURVEY §7.2 option (b)) with an interpreted eval
  * and a whole-stage-codegen body emitting the same loop in Java.
  *
  * Why bother when Z exists: Z's known wart is boundary jumps — a box
  * straddling a HIGH interleave bit touches ~2× the tiles because the
  * curve teleports across the split. Hilbert is continuous (every
  * consecutive index step is a unit grid step — pinned as a property
  * test over the full order-4 grid), so tiles of a range stay edge-
  * connected and the worst-case straddle factor roughly halves.
  * ZORDERLAB_r10.json carries the measured comparison on the same
  * layouts; the default stays Z (simpler, pure-expression) unless the
  * workload is boundary-straddling box queries.
  */
case class HilbertIndex(left: Expression, right: Expression, order: Int)
  extends BinaryExpression {

  require(order >= 1 && order <= 31, s"order must be in [1,31], got $order")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.compute(a.asInstanceOf[Long], b.asInstanceOf[Long], order)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y, d, s, rx, ry, t) = (ctx.freshName("hx"), ctx.freshName("hy"),
        ctx.freshName("hd"), ctx.freshName("hs"), ctx.freshName("rx"),
        ctx.freshName("ry"), ctx.freshName("ht"))
      s"""
         |long $x = $a; long $y = $b; long $d = 0L;
         |for (long $s = 1L << ${order - 1}; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** Scalar twin of the codegen body (used by eval and by the spec's
    * full-grid property check). Wikipedia's xy2d with the standard
    * rotate step. */
  def compute(x0: Long, y0: Long, order: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** N-dimensional Hilbert curve index of a quantized point, passed as one
  * `array<bigint>` column of coordinates — the r16 N-D generalization of
  * the 2-D rotate-fold kernel (VERDICT r15 #7), so the 3-D clustering
  * layouts (`ZOrder.zOrderedN`) get the boundary-continuous curve too,
  * not just N-D Z.
  *
  * Algorithm: Skilling's transpose form ("Programming the Hilbert
  * curve", AIP Conf. Proc. 707, 2004 — public domain algorithm): undo
  * the excess rotate work top-down, Gray-encode across axes, then
  * round-robin-interleave the transposed bits into one long (MSB
  * first), which is exactly the bit layout [[graft.sources.ZOrder
  * .interleaveBitsN]] uses for Z — the two curves index the same grid
  * and their indices are directly comparable as range-shuffle keys.
  * The 2-D specialization of Skilling's curve is a reflection of the
  * classic rotate-fold [[HilbertIndex]] — both are Hilbert curves with
  * the unit-step property; the spec pins the property, not cross-curve
  * equality. Array-argument shape (vs N children) deliberately mirrors
  * [[SignBands]]: `array(...)` construction is a codegen'd builtin, and
  * a `UnaryExpression` keeps the null-safe codegen scaffolding simple.
  *
  * Null semantics: NULL array or any NULL element → NULL index (same
  * rows-sort-together behavior as a NULL Z value). Requires
  * `n_dims * order <= 63` so the index fits a long — checked per row
  * against the ACTUAL array length (the arity is data-shaped).
  */
case class HilbertIndexN(child: Expression, order: Int)
  extends UnaryExpression {

  require(order >= 1 && order <= 31, s"order must be in [1,31], got $order")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${dt.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true // a NULL element nulls the index
  override def prettyName: String = "graft_hilbert_n"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      xs(i) = a.getLong(i)
      i += 1
    }
    HilbertIndexN.compute(xs, order)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val (n, xs, i, bad) = (ctx.freshName("hn"), ctx.freshName("hxs"),
        ctx.freshName("hi"), ctx.freshName("hbad"))
      s"""
         |final int $n = $v.numElements();
         |final long[] $xs = new long[$n];
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { $bad = true; break; }
         |  $xs[$i] = $v.getLong($i);
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.HilbertIndexN.compute($xs, $order); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HilbertIndexN =
    copy(child = newChild)
}

object HilbertIndexN {
  /** Scalar twin of the codegen body (also called FROM the generated
    * code — a static primitive-args call stays inside whole-stage
    * codegen, unlike a CodegenFallback tree walk). Skilling
    * AxesToTranspose + MSB-first round-robin bit collection. */
  def compute(x0: Array[Long], order: Int): Long = {
    val n = x0.length
    require(n >= 1 && n * order <= 63,
      s"hilbert index must fit a long: $n dims x $order bits")
    val x = new Array[Long](n)
    System.arraycopy(x0, 0, x, 0, n)
    // Inverse-undo the rotations, top bit level down to level 1
    var q = 1L << (order - 1)
    while (q > 1L) {
      val p = q - 1L
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p // invert low bits of axis 0
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t } // exchange
        i += 1
      }
      q >>= 1
    }
    // Gray encode across axes
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (order - 1)
    while (q > 1L) { if ((x(n - 1) & q) != 0L) t ^= q - 1L; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // Collect the transposed bits: level k (MSB first), axis j in order
    var d = 0L
    var k = order - 1
    while (k >= 0) {
      var j = 0
      while (j < n) { d = (d << 1) | ((x(j) >> k) & 1L); j += 1 }
      k -= 1
    }
    d
  }

  /** Inverse (index → axes) — Skilling TransposeToAxes; used by the
    * spec's bijectivity/adjacency property checks, not by any query
    * plan. */
  def inverse(d: Long, n: Int, order: Int): Array[Long] = {
    require(n >= 1 && n * order <= 63,
      s"hilbert index must fit a long: $n dims x $order bits")
    val x = new Array[Long](n)
    // un-interleave MSB-first round-robin back into transposed form
    var pos = n * order - 1
    var k = order - 1
    while (k >= 0) {
      var j = 0
      while (j < n) { x(j) |= ((d >> pos) & 1L) << k; pos -= 1; j += 1 }
      k -= 1
    }
    // Gray decode
    val top = 2L << (order - 1)
    val t = x(n - 1) >> 1
    var i = n - 1
    while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t
    // Redo the rotations, bottom up
    var q = 2L
    while (q != top) {
      val p = q - 1L
      i = n - 1
      while (i >= 0) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val tt = (x(0) ^ x(i)) & p; x(0) ^= tt; x(i) ^= tt }
        i -= 1
      }
      q <<= 1
    }
    x
  }
}

/** Equi-depth bucket rank: the index of `value` among the SORTED cut
  * array — `count(c in cuts : value >= c)` — as a native codegen'd
  * binary search. This is the per-row quantizer kernel of
  * [[graft.sources.ZOrder.withZEquiDepth]].
  *
  * Why not `aggregate(cuts, 0L, (acc, c) => acc + when(v >= c, 1, 0))`:
  * Spark's HOFs are `CodegenFallback` — the rank re-dispatched an
  * interpreted lambda 255 times per row, and ZORDERLAB_r11 measured the
  * equi-depth layout BUILD at ~5-7× the linear quantizer's (11.6 vs
  * 2.2 s at sf1, 37.5 vs 5.1 s at sf10) with the rank HOF as the known
  * lever. A re-cluster at 100 TB pays that 5× on every maintenance
  * pass. Here the rank is an O(log n) primitive binary search inside
  * the enclosing WholeStageCodegen stage.
  *
  * Semantics: requires `cuts` non-decreasing (percentile_approx output
  * always is — upper-bound binary search equals the linear count then,
  * duplicates included). Layout key columns are non-null by contract;
  * NULL in either input yields NULL (the HOF reference maps a NULL
  * value to rank 0 — both land in the lowest tile, so layouts agree on
  * real data; ZOrderSpec pins value equivalence on the data path).
  */
case class BucketRank(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
    // containsNull must be FALSE: a null cut element would be read as
    // garbage through ArrayData.getLong (and the HOF reference counts a
    // null cut as 0 — silently different ranks). percentile_approx
    // output — the internal equi-depth path — is containsNull=false by
    // construction; any other SQL caller with a nullable-element array
    // is rejected at analysis instead of mis-ranking at runtime
    // (ADVICE r12).
    case org.apache.spark.sql.types.ArrayType(LongType, false)
        if left.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, array<bigint> with non-null " +
        s"elements), got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bucket_rank"

  override def nullSafeEval(v: Any, cutsAny: Any): Any = {
    val cuts = cutsAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val x = v.asInstanceOf[Long]
    var lo = 0
    var hi = cuts.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts.getLong(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cuts) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $cuts.numElements();
         |while ($lo < $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  if ($cuts.getLong($mid) <= $v) $lo = $mid + 1; else $hi = $mid;
         |}
         |${ev.value} = (long) $lo;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketRank =
    copy(left = newLeft, right = newRight)
}
