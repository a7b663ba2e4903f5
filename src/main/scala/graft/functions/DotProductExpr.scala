package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The `array<float|double>` shape shared by the vector kernels
  * ([[DotProduct]], [[CosineSim]], [[RankCells]]): one element check,
  * the element getter (widened to double) in Scala and in generated
  * Java, and a nullable result — null comes out on a length mismatch or
  * a null element even when the array columns themselves are
  * non-nullable. */
private[graft] trait FloatArrayKernel extends Expression {

  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(e => elemType(e) match {
      case FloatType | DoubleType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        children.map(_.dataType.catalogString).mkString(" / "))
  }

  protected def get(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  protected def getter(et: DataType, arr: String, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** Whole-stage-codegen'd Σ xᵢ·yᵢ over `array<float|double>` columns.
  *
  * The composable form (`aggregate(zip_with(...))`, kept as the
  * reference `dot` beside DotProductSpec) allocates an intermediate
  * array and walks lambda-bound expressions per element in interpreted
  * mode; this native expression compiles to a tight primitive loop
  * inside the generated code — the hot kernel of recall
  * scoring (J7/M1) and ANN search. Semantics match the composed form
  * exactly, including edges: sequential fold, elements widened to double
  * before multiply, and NULL out on length mismatch or a null element
  * (`zip_with` pads the shorter side with nulls and `null * x` poisons the
  * fold) — so results are bit-identical and oracle-safe on ANY input, not
  * just well-formed embeddings.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayKernel {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (${getter(elemType(left), a, i)}) * (${getter(elemType(right), b, i)});
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: Σxy, Σx², Σy² accumulated in ONE pass over the
  * arrays (the 3-dot-product composition walks them three times), then
  * xy / (√x² · √y²) with NaN (zero vector) normalized to 0. Accumulation
  * order per sum and the null edges (length mismatch / null element →
  * NULL) match [[DotProduct]] / the composed form exactly, so results are
  * bit-identical. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayKernel {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ta); val y = get(b, i, tb)
      xy += x * y; xx += x * x; yy += y * y
      i += 1
    }
    val c = xy / (math.sqrt(xx) * math.sqrt(yy))
    if (java.lang.Double.isNaN(c)) 0.0 else c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val xy = ctx.freshName("xy"); val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $xy = 0.0, $xx = 0.0, $yy = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${getter(elemType(left), a, i)};
         |    double $y = ${getter(elemType(right), b, i)};
         |    $xy += $x * $y; $xx += $x * $x; $yy += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $c = $xy / (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
         |    ${ev.value} = java.lang.Double.isNaN($c) ? 0.0 : $c;
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native top-`take` cell ranking against LITERAL centroids — the
  * scale-path of the IVF/SemDeDup assignment and probe steps.
  *
  * The composed form (`array_sort(array(struct(-cosine(v, cent_i), i)))`
  * over one struct expression PER centroid) is correct and
  * oracle-portable, but its plan size grows linearly with nCells: at
  * the auto-sized cell counts ([[graft.llmops.SimSearch.autoCells]],
  * up to 4096) the expression tree blows past the 64 KB codegen method
  * limit, falls back to interpreted eval, and sorts a 4096-struct array
  * per row. This kernel computes the identical ranking in one pass —
  * fused single-pass cosine per centroid (bit-identical accumulation
  * order to [[CosineSim]], NaN → 0), centroid norms precomputed once,
  * and an O(nCells·take) partial insertion instead of a full sort.
  *
  * Returns the `take` best cell indices ordered by (cosine DESC, index
  * ASC) — exactly the composed form's `(negSim, cell)` ascending sort.
  * The ±0.0 edge is handled by normalizing -0.0 → 0.0 before ranking:
  * Spark's interpreted struct ordering (SQLOrderingUtil.compareDoubles)
  * treats -0.0 == 0.0 while java.lang.Double.compare ranks them, so the
  * kernel neutralizes the difference at the source. (-0.0 is reachable:
  * the fused accumulator starts at +0.0 so xy itself can't be -0.0, but
  * a tiny-negative xy over a huge norm product can UNDERFLOW the
  * division to -0.0.)
  * take = 1 is assignment, take = nProbe is probing. NULL on a null /
  * malformed vector (null element or length ≠ centroid dim — the
  * composed form's null-poisoned sort is undefined there anyway).
  * CodegenFallback: per-row work is an O(nCells·dim) loop, so row
  * boxing is noise (same rationale as [[StringArrayKernel]]). Pinned to the
  * composed form by DotProductSpec. */
case class RankCells(child: Expression, centroids: Seq[Seq[Double]],
    take: Int)
    extends UnaryExpression with FloatArrayKernel
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(take >= 1, s"take must be >= 1, got $take")

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  // norms accumulate left-to-right like the fused loop, so sqrt sees the
  // same partial-sum sequence and the cosine stays bit-identical
  @transient private lazy val cNorms: Array[Double] = cents.map { ct =>
    var yy = 0.0
    var j = 0
    while (j < ct.length) { yy += ct(j) * ct(j); j += 1 }
    math.sqrt(yy)
  }

  override def nullSafeEval(in: Any): Any = {
    val a = in.asInstanceOf[ArrayData]
    val et = elemType(child)
    val n = a.numElements()
    val v = new Array[Double](n)
    var xx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = get(a, i, et)
      v(i) = x
      xx += x * x
      i += 1
    }
    val vNorm = math.sqrt(xx)
    val k = math.min(take, cents.length)
    val topIdx = new Array[Int](math.max(k, 1))
    val topCos = new Array[Double](math.max(k, 1))
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      if (ct.length != n) return null
      var xy = 0.0
      var j = 0
      while (j < n) { xy += v(j) * ct(j); j += 1 }
      val r0 = xy / (vNorm * cNorms(c))
      // + 0.0 normalizes a division-underflow -0.0 to +0.0 (IEEE
      // round-to-nearest: -0.0 + 0.0 = +0.0; every other value is
      // unchanged) so Double.compare below agrees with Spark's
      // -0.0 == 0.0 struct ordering
      val cos = if (java.lang.Double.isNaN(r0)) 0.0 else r0 + 0.0
      // insertion position: strictly-greater moves left, so an incoming
      // equal-cosine candidate (which has the LARGER index) stays after
      // its equals — (cosine DESC, index ASC)
      var pos = filled
      while (pos > 0 && java.lang.Double.compare(cos, topCos(pos - 1)) > 0)
        pos -= 1
      if (pos < k) {
        var m = math.min(filled, k - 1)
        while (m > pos) {
          topCos(m) = topCos(m - 1); topIdx(m) = topIdx(m - 1); m -= 1
        }
        topCos(pos) = cos
        topIdx(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(topIdx, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API surface for the native expressions. */
object GraftFunctions {
  import org.apache.spark.sql.graftshim.GraftSqlShim

  def dot(x: Column, y: Column): Column =
    GraftSqlShim.column(
      DotProduct(GraftSqlShim.expression(x), GraftSqlShim.expression(y)))

  /** Single-pass fused cosine (see [[CosineSim]]): bit-identical to the
    * 3-dot composition, one array walk instead of three, NaN (zero
    * vector) → 0 so a zero embedding can't lead a descending top-k. */
  def cosine(x: Column, y: Column): Column =
    GraftSqlShim.column(
      CosineSim(GraftSqlShim.expression(x), GraftSqlShim.expression(y)))

  /** Top-`take` centroid indices by (cosine DESC, index ASC) — see
    * [[RankCells]]. */
  def rankCells(v: Column, centroids: Seq[Seq[Double]], take: Int): Column =
    GraftSqlShim.column(
      RankCells(GraftSqlShim.expression(v), centroids, take))
}
