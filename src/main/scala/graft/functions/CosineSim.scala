package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity — the FUSED form of the
  * composition `Similarity.cosine`:
  *
  * {{{
  *   val d = graft_dot(a, b)                         // Σ ā·b̄, L-to-R from 0.0
  *   val n = SQRT(graft_dot(a, a)) * SQRT(graft_dot(b, b))
  *   CASE WHEN n = 0.0 THEN 0.0 ELSE d / n END
  * }}}
  *
  * That composition evaluates THREE [[DotProduct]] loops per scored
  * pair — six traversals of the two arrays (a twice, b twice, then a·b
  * reading both) — because each norm is its own expression tree node.
  * This expression walks both arrays ONCE, carrying the three running
  * sums side by side, so the hot inner loop of every similarity path
  * (brute-force kNN scoring, NN-Descent round scoring, beam-walk
  * re-ranking, SemDedup, k-means assignment) does one third of the
  * array reads and bound checks per pair. At a 64-dim corpus that is
  * 128 element loads per pair instead of 384, in one codegen region
  * instead of three.
  *
  * BIT-IDENTICAL to the composition by construction, not by test
  * alone: each of the three sums accumulates left-to-right from 0.0
  * over the same widen-to-double products in the same order as its
  * [[DotProduct]] twin (interleaving independent accumulators does not
  * reorder any individual sum), `Math.sqrt` and the final division are
  * single correctly-rounded IEEE ops on identical inputs, and the
  * zero-norm/NULL cases mirror the CASE WHEN exactly: a null element
  * yields NULL (the self-dot nullifies the CASE input), a zero
  * product-of-norms yields 0.0 EVEN ON MISMATCHED LENGTHS — the
  * composition's WHEN tests n = norm(a)·norm(b) first, and each norm
  * is a self-dot that never sees the other array — and a non-zero-norm
  * mismatch yields NULL (d is NULL in the otherwise-branch). The
  * mismatch cases take a cold non-codegen path ([[mismatchedEvalBoxed]]
  * via a reference object); the hot equal-length loop stays one codegen
  * region. CosineSimSpec pins equality against the live composition on
  * a randomized float/double grid plus every edge case; the full-query
  * oracle gate re-proves it corpus-wide every round. */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  @transient private lazy val leftIsFloat = elemType(left) == FloatType
  @transient private lazy val rightIsFloat = elemType(right) == FloatType

  // mismatched lengths (cold path): the composition's CASE tests
  // n = norm(a)·norm(b) FIRST, and each norm is a SELF-dot that never
  // sees the other array — so a zero-norm side yields 0.0 even when the
  // lengths differ, and only a non-zero n falls through to the NULL
  // division. Replicate exactly: self-dots over each array's own full
  // length (null element → NULL, as the self-dot nullifies the CASE
  // input), then 0.0 on zero product-of-norms, else NULL.
  /** Boxed wrapper for the generated code's cold-path call. */
  def mismatchedEvalBoxed(x: ArrayData, y: ArrayData): java.lang.Double =
    mismatchedEval(x, y) match {
      case null => null
      case d => java.lang.Double.valueOf(d.asInstanceOf[Double])
    }

  private def mismatchedEval(x: ArrayData, y: ArrayData): Any = {
    // null element anywhere: the corresponding self-dot is NULL, n is
    // NULL, and both CASE branches yield NULL
    if (hasNullElem(x) || hasNullElem(y)) return null
    val nrm = java.lang.Math.sqrt(selfDot(x, leftIsFloat)) *
      java.lang.Math.sqrt(selfDot(y, rightIsFloat))
    // n = 0 short-circuits to 0.0 before the division ever sees the
    // mismatch; any other n (including NaN, where the WHEN comparison
    // is false) reaches d/n with d NULL → NULL
    if (nrm == 0.0) 0.0 else null
  }

  private def hasNullElem(v: ArrayData): Boolean = {
    var i = 0
    val n = v.numElements()
    while (i < n) { if (v.isNullAt(i)) return true; i += 1 }
    false
  }

  private def selfDot(v: ArrayData, isFloat: Boolean): Double = {
    var s = 0.0
    var i = 0
    val n = v.numElements()
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      s += x * x
      i += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return mismatchedEval(x, y)
    val xf = leftIsFloat
    val yf = rightIsFloat
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      d += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    val nrm = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb)
    if (nrm == 0.0) 0.0 else d / nrm
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGet =
      if (leftIsFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
      else (v: String, i: String) => s"$v.getDouble($i)"
    val rightGet =
      if (rightIsFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
      else (v: String, i: String) => s"$v.getDouble($i)"
    // cold path (mismatched lengths) delegates to the interpreted
    // helper through a reference object — it replays the composition's
    // CASE-sees-the-self-norms-first semantics without inflating the
    // hot loop's generated code
    val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("dotAb")
      val na = ctx.freshName("normA")
      val nb = ctx.freshName("normB")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nrm = ctx.freshName("nrm")
      val mres = ctx.freshName("mres")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  java.lang.Double $mres = $ref.mismatchedEvalBoxed($a, $b);
         |  if ($mres == null) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $mres.doubleValue(); }
         |} else {
         |  double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = ${leftGet(a, i)};
         |    final double $yv = ${rightGet(b, i)};
         |    $d += $xv * $yv;
         |    $na += $xv * $xv;
         |    $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $nrm = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    ${ev.value} = ($nrm == 0.0) ? 0.0 : $d / $nrm;
         |  }
         |}
       """.stripMargin
    })
  }
}

object CosineSim {
  /** Fused `graft_cosine(a, b)` column. */
  def cosine(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
