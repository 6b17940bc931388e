package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** NATIVE EXPRESSION TWIN of the [[DetMath]] step chains: the SQL
  * chains are ~20–40 dependent steps, and because most steps reference their predecessor twice
  * Spark cannot collapse the projection ladder — every DetMath query
  * paid a 20–40-Project-deep plan in analysis, optimization and
  * codegen size, per chain, regardless of row count. These expressions
  * compute THE SAME IEEE primitives in THE SAME ORDER with THE SAME
  * constants as the emitted SQL — one codegen'd static call per row,
  * one plan node per chain.
  *
  * Bit-identity contract: [[DetMathOps]] mirrors [[DetMath]]'s step
  * text op-for-op (each SQL step is one IEEE primitive on doubles;
  * the Scala constants are the very values `DetMath.dbl` stringifies,
  * and decimal round-tripping is exact, so both sides start from the
  * same bits). The DuckDB oracles keep evaluating the SQL chains —
  * DetMathSpec pins Expression ≡ SQL-chain BIT-EQUALITY over dense
  * grids of every live input range, and the 166-query hash gate
  * re-proves it on real data every round. No libm anywhere: `ln`/`exp`
  * here are atanh-series / Taylor range reductions over `+ − × ÷`,
  * `floor` and comparisons only. */
object DetMathOps {

  /** Same bits as the [[DetMath.Ln2]] literal both engines parse. */
  val Ln2: Double = 0.6931471805599453

  /** [[ln]]'s exact domain: the six-level ladder reduces any
    * x ∈ [1, 2^64) into [1, 2) and the series diverges outside. */
  val LnMax: Double = 1.8446744073709552E19 // 2^64
  def lnInDomain(x: Double): Boolean = x >= 1.0 && x < LnMax
  def lnSignedInDomain(x: Double): Boolean =
    lnInDomain(x) || (x > 0.0 && lnInDomain(1.0 / x))

  private val Levels: Array[Int] = Array(32, 16, 8, 4, 2, 1)
  private val Pow2: Array[Double] = Levels.map(j => math.pow(2.0, j))
  // the identical generating expressions DetMath stringifies via dbl()
  private val LnCoef: Array[Double] = (3 to 15 by 2).map(k => 1.0 / k).toArray
  private val ExpCoef: Array[Double] =
    (1 to 12).map(k => 1.0 / (1L to k).foldLeft(1.0)(_ * _.toDouble)).toArray

  /** ln(x) for x ∈ [1, 2^63) — mirrors [[DetMath.lnSteps]] exactly:
    * six-level binary range reduction (division by an exact power of
    * two), atanh series with Horner in the chain's order, recombine
    * with one int-sum→double cast and one multiply-add. */
  def ln(x0: Double): Double = {
    var a = x0
    var e = 0
    var i = 0
    while (i < 6) {
      if (a >= Pow2(i)) { e += Levels(i); a = a / Pow2(i) }
      i += 1
    }
    val t = (a - 1.0) / (a + 1.0)
    val s = t * t
    var acc = LnCoef(LnCoef.length - 1)
    var j = LnCoef.length - 2
    while (j >= 0) { acc = LnCoef(j) + s * acc; j -= 1 }
    val lnm = 2.0 * t * (1.0 + s * acc)
    e.toDouble * Ln2 + lnm
  }

  /** ln(x) for any positive x — mirrors [[DetMath.lnSignedSteps]]:
    * reciprocate into [1, ∞), [[ln]], restore the sign with the same
    * `0.0 - l` subtraction the SQL emits. */
  def lnSigned(x: Double): Double =
    if (x >= 1.0) ln(x) else 0.0 - ln(1.0 / x)

  /** exp(x) given k = ⌊x/ln2 + ½⌋ ≤ 63 (callers guard — the
    * expression yields NULL past the 2^63 ladder, mirroring
    * [[DetMath.expSteps]]'s guard): binary 2^k assembly, 12-term
    * Taylor on r = x − k·ln2 in the chain's Horner order. */
  def expK(x: Double, k: Double): Double = {
    var p2 = 1.0
    var kk = k
    var i = 0
    while (i < 6) {
      if (kk >= Levels(i)) { p2 = p2 * Pow2(i); kk = kk - Levels(i) }
      i += 1
    }
    val r = x - k * Ln2
    var acc = ExpCoef(ExpCoef.length - 1)
    var j = ExpCoef.length - 2
    while (j >= 0) { acc = ExpCoef(j) + r * acc; j -= 1 }
    p2 * (1.0 + r * acc)
  }
}

/** `graft_det_ln(x)` — deterministic ln(x) on [1, 2^64); NULL outside
  * (see [[DetMathOps]]). The range-reduction ladder and atanh series
  * are only exact inside that domain, and the engine's own callers are
  * in-domain by construction — but the SQL surface is not, so
  * out-of-domain inputs must read as NULL, never as a plausible
  * series truncation. */
case class DetLn(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {
  // analysis-time contract: a non-double child gets Spark's implicit
  // cast — the CAST(... AS DOUBLE) every call site hand-writes — or a
  // resolution error, never a runtime CCE
  override def inputTypes: Seq[org.apache.spark.sql.GraftColumnBridge.SqlAbstractDataType] =
    Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_det_ln"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def nullSafeEval(x: Any): Any = {
    val xd = x.asInstanceOf[Double]
    if (DetMathOps.lnInDomain(xd)) DetMathOps.ln(xd) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |if (graft.functions.DetMathOps.lnInDomain($c)) {
       |  ${ev.value} = graft.functions.DetMathOps.ln($c);
       |} else {
       |  ${ev.isNull} = true;
       |}
     """.stripMargin)
}

/** `graft_det_ln_signed(x)` — deterministic ln(x) on (2^-64, 2^64);
  * NULL outside (x or its reciprocal must sit in [[DetLn]]'s domain —
  * same rationale: the SQL surface must never serve a divergent
  * series as a value). */
case class DetLnSigned(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {
  // analysis-time contract: a non-double child gets Spark's implicit
  // cast — the CAST(... AS DOUBLE) every call site hand-writes — or a
  // resolution error, never a runtime CCE
  override def inputTypes: Seq[org.apache.spark.sql.GraftColumnBridge.SqlAbstractDataType] =
    Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_det_ln_signed"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def nullSafeEval(x: Any): Any = {
    val xd = x.asInstanceOf[Double]
    if (DetMathOps.lnSignedInDomain(xd)) DetMathOps.lnSigned(xd) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |if (graft.functions.DetMathOps.lnSignedInDomain($c)) {
       |  ${ev.value} = graft.functions.DetMathOps.lnSigned($c);
       |} else {
       |  ${ev.isNull} = true;
       |}
     """.stripMargin)
}

/** `graft_det_exp(x)` — deterministic exp(x) for x with
  * k = ⌊x/ln2 + ½⌋ ∈ [0, 63], i.e. x ∈ [−ln2/2, 63.5·ln2); NULL
  * outside — past the 2^63 ladder (k > 63) and below the zero rung
  * (k < 0: the ladder cannot divide), mirroring the SQL chain's guard
  * exactly. */
case class DetExp(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {
  // analysis-time contract: a non-double child gets Spark's implicit
  // cast — the CAST(... AS DOUBLE) every call site hand-writes — or a
  // resolution error, never a runtime CCE
  override def inputTypes: Seq[org.apache.spark.sql.GraftColumnBridge.SqlAbstractDataType] =
    Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_det_exp"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def nullSafeEval(x: Any): Any = {
    val xd = x.asInstanceOf[Double]
    val k = math.floor(xd / DetMathOps.Ln2 + 0.5)
    // BOTH ends guarded ON K — the actual ladder constraint: k < 0
    // would need a dividing ladder the 2^k
    // assembly doesn't have (exp(-1) would silently read ~0.74 instead
    // of 0.37), but k = 0 covers x ∈ [-ln2/2, 0) with no ladder at all
    // — the Taylor series on r = x is exact there, and the SQL chain
    // returns that finite value, so an x < 0 guard here would open a
    // native-vs-chain divergence window. DetMathSpec pins bit-equality
    // (and NULL agreement past -ln2/2) over a negative grid.
    if (k < 0.0 || k > 63.0) null else DetMathOps.expK(xd, k)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val k = ctx.freshName("detExpK")
      s"""
         |double $k = java.lang.Math.floor($c / ${DetMathOps.Ln2}D + 0.5D);
         |if ($k < 0.0D || $k > 63.0D) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DetMathOps.expK($c, $k);
         |}
       """.stripMargin
    })
}

/** Column constructors for the engine side (the oracle side keeps the
  * [[DetMath]] SQL text). */
object DetMathExpr {
  def detLn(x: Column): Column =
    GraftColumnBridge.column(DetLn(GraftColumnBridge.expression(x)))
  def detLnSigned(x: Column): Column =
    GraftColumnBridge.column(DetLnSigned(GraftColumnBridge.expression(x)))
  def detExp(x: Column): Column =
    GraftColumnBridge.column(DetExp(GraftColumnBridge.expression(x)))
}
