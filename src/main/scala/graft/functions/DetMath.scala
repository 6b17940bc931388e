package graft.functions

/** Cross-engine DETERMINISTIC transcendental math, as SQL text: the
  * oracle gate compares hashes, and hashes of libm outputs are not a
  * cross-engine contract — JVM `Math.log` and
  * DuckDB's C `log` may legally differ in the last ulp, and a 1-ulp
  * divergence that lands near a 6-dp rounding boundary flips a gate
  * nondeterministically. IEEE-754 `+ − × ÷` and `floor` on identical
  * inputs ARE bit-exact everywhere, and both engines parse decimal
  * literals correctly-rounded — so ln/exp built from ONLY those
  * primitives, emitted as the SAME SQL text into both engines, produce
  * bit-identical doubles by construction.
  *
  * Shape: each function is a short chain of named STEPS (one op each),
  * emitted as `(columnName, sqlExpression)` pairs. The Spark side folds
  * them through `withColumn(name, expr(sql))`; the DuckDB oracle folds
  * the IDENTICAL strings through a CTE chain — one source of truth, so
  * the two engines cannot drift in operation order.
  *
  * ln(x), x ≥ 1: range-reduce by the exact power of two — e =
  * ⌊log₂ x⌋ via a comparison ladder (no libm), m = x / 2^e ∈ [1, 2)
  * (division by a power of two is exact) — then the atanh series
  * ln m = 2t(1 + t²/3 + t⁴/5 + … + t¹⁴/15), t = (m−1)/(m+1) ∈
  * [0, 1/3], truncation < 1e-9; recombine ln x = e·ln2 + ln m. exp(x),
  * 0 ≤ x < 64·ln2: k = ⌊x/ln2 + ½⌋ (floor is exact), r = x − k·ln2 ∈
  * [−0.347, 0.347], exp r by 12-term Taylor (truncation < 1e-15),
  * recombine exp x = 2^k · exp r with 2^k from an exact-literal ladder.
  *
  * The ~1e-9 series truncation is a FIDELITY bound, not a gate risk:
  * both engines compute the identical bits, so the gate cannot flip no
  * matter where the value sits relative to a rounding boundary — which
  * is the entire point. */
object DetMath {

  /** ln 2, correctly rounded to double — in E-NOTATION, which BOTH
    * engines' parsers type as DOUBLE (a plain decimal form parses as
    * DECIMAL in Spark, so `k * Ln2` with a BIGINT `k` would be an exact
    * decimal product rounded ONCE, while DuckDB's DOUBLE floor computes
    * fl(k · fl(Ln2)) — a 1-ulp divergence reachable at k ∈
    * {33, 35, 51}, exactly the hash-gate
    * hazard class this object exists to eliminate). E-notation keeps
    * every use a plain double multiply/divide in both engines. */
  val Ln2 = "6.931471805599453E-1"

  private def dbl(d: Double): String = {
    val s = java.lang.Double.toString(d)
    // SQL floats: keep plain decimal or E-notation — Java's toString is
    // round-trip exact and both parsers are correctly-rounded
    s
  }

  /** Steps computing `outCol` = ln(`x`) for an expression `x` in
    * [1, 2^63) — integer- or double-valued. Range reduction is a
    * BINARY-DECOMPOSITION ladder (six halving levels 2^32 … 2^1), not
    * one flat 62-branch CASE: each level divides by an exact power of
    * two when the running mantissa still exceeds it, so the expression
    * tree stays small enough for tight codegen while every operation
    * remains an exact IEEE primitive. Step names are prefixed with the
    * output name so several chains can coexist in one frame. */
  def lnSteps(x: String, outCol: String): Seq[(String, String)] = {
    val p = s"__${outCol}"
    val levels = Seq(32, 16, 8, 4, 2, 1)
    val reduce = levels.zipWithIndex.flatMap { case (j, i) =>
      val prev = if (i == 0) s"${p}_a" else s"${p}_a${i - 1}"
      val pw = dbl(math.pow(2, j))
      Seq(
        s"${p}_e$i" -> s"CASE WHEN $prev >= $pw THEN $j ELSE 0 END",
        s"${p}_a$i" -> s"CASE WHEN $prev >= $pw THEN $prev / $pw ELSE $prev END")
    }
    val eSum = levels.indices.map(i => s"${p}_e$i").mkString(" + ")
    val m = s"${p}_a${levels.size - 1}"
    // atanh-series Horner coefficients 1/3, 1/5, … 1/15 as exact
    // round-trip literals; t ≤ 1/3 on m ∈ [1, 2) ⇒ truncation < 1e-9
    val c = (3 to 15 by 2).map(k => dbl(1.0 / k))
    val horner = c.reverse.tail.foldLeft(c.last)((acc, ck) =>
      s"($ck + ${p}_s * ($acc))")
    Seq(s"${p}_a" -> s"CAST(($x) AS DOUBLE)") ++ reduce ++ Seq(
      s"${p}_t" -> s"($m - 1.0) / ($m + 1.0)",
      s"${p}_s" -> s"${p}_t * ${p}_t",
      s"${p}_lnm" -> s"2.0 * ${p}_t * (1.0 + ${p}_s * ($horner))",
      outCol -> s"CAST($eSum AS DOUBLE) * $Ln2 + ${p}_lnm")
  }

  /** Steps computing `outCol` = ln(`x`) for ANY positive `x` — the
    * log-likelihood-RATIO shape (NB weights, priors) where the ratio
    * may sit on either side of 1: reciprocate into [1, ∞), run
    * [[lnSteps]], restore the sign. The reciprocal is one IEEE
    * division and the sign restore one CASE — deterministic like
    * everything else here. */
  def lnSignedSteps(x: String, outCol: String): Seq[(String, String)] = {
    val p = s"__${outCol}"
    Seq(s"${p}_ax" ->
        s"CASE WHEN ($x) >= 1.0 THEN CAST(($x) AS DOUBLE) ELSE 1.0 / ($x) END") ++
      lnSteps(s"${p}_ax", s"${p}_lpos") ++
      Seq(outCol ->
        s"CASE WHEN ($x) >= 1.0 THEN ${p}_lpos ELSE 0.0 - ${p}_lpos END")
  }

  /** Steps computing `outCol` = exp(`x`) for an expression `x` in
    * [0, 64·ln2 ≈ 44.36) — the nll/idf range. 2^k is assembled by the
    * same binary decomposition (exact power-of-two factors multiply
    * exactly); k itself comes from one exact FLOOR. Two cross-engine
    * disciplines:
    *  - `k` is explicitly CAST to DOUBLE before the k·ln2 product —
    *    Spark's FLOOR yields BIGINT where DuckDB's yields DOUBLE, and
    *    with [[Ln2]] in E-notation both engines compute the SAME
    *    single double multiply fl(k · Ln2) (a decimal-typed Ln2 would
    *    make Spark round an exact decimal product once instead — 1 ulp
    *    off DuckDB at k ∈ {33, 35, 51});
    *  - the domain is GUARDED, not documented, AT BOTH ENDS of the
    *    ladder: k > 63 exceeds the 2^k assembly and would be silently
    *    wrong by 2^(k−63); k < 0 would need a DIVIDING ladder it
    *    doesn't have and would be silently wrong by 2^|k| for
    *    x < −ln2/2. Both read as NULL — a loud downstream failure instead of a silent
    *    factor-of-2^m error. k = 0 (x ∈ [−ln2/2, 0)) needs no ladder
    *    and stays a finite Taylor value, bit-equal to the native
    *    [[DetMathExpr.detExp]] twin (DetMathSpec's negative grid). */
  def expSteps(x: String, outCol: String): Seq[(String, String)] = {
    val p = s"__${outCol}"
    val c = (1 to 12).map(k =>
      dbl(1.0 / (1L to k).foldLeft(1.0)(_ * _.toDouble)))
    val horner = c.reverse.tail.foldLeft(c.last)((acc, ck) =>
      s"($ck + ${p}_r * ($acc))")
    val levels = Seq(32, 16, 8, 4, 2, 1)
    val decomp = levels.zipWithIndex.flatMap { case (j, i) =>
      val prev = if (i == 0) s"${p}_kd" else s"${p}_k${i - 1}"
      val pw = dbl(math.pow(2, j))
      Seq(
        s"${p}_p$i" -> s"CASE WHEN $prev >= ${j}.0 THEN $pw ELSE 1.0 END",
        s"${p}_k$i" -> s"CASE WHEN $prev >= ${j}.0 THEN $prev - ${j}.0 ELSE $prev END")
    }
    val p2 = levels.indices.map(i => s"${p}_p$i").mkString(" * ")
    Seq(
      s"${p}_k" -> s"FLOOR(($x) / $Ln2 + 0.5)",
      s"${p}_kd" -> s"CAST(${p}_k AS DOUBLE)") ++ decomp ++ Seq(
      s"${p}_r" -> s"($x) - ${p}_kd * $Ln2",
      outCol -> (s"CASE WHEN ${p}_kd > 63.0 OR ${p}_kd < 0.0 " +
        s"THEN CAST(NULL AS DOUBLE) " +
        s"ELSE ($p2) * (1.0 + ${p}_r * ($horner)) END"))
  }

  /** Fold a step chain into a DataFrame (the Spark half — the oracle
    * folds the same strings into a CTE chain via [[cteChain]]). The
    * interim steps are dropped, leaving only the chain's final output
    * column. */
  def withSteps(df: org.apache.spark.sql.DataFrame,
                steps: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val out = steps.foldLeft(df) { case (d, (name, sql)) =>
      d.withColumn(name, org.apache.spark.sql.functions.expr(sql))
    }
    out.drop(steps.init.map(_._1): _*)
  }

  /** The DuckDB half: wrap `innerSql` (a relation producing the step
    * inputs) in one chained-CTE per step, named `prefix0..prefixN`,
    * returning (cteText, finalName). Each CTE is
    * `SELECT *, <step> AS <name> FROM <prev>` — the identical
    * expression strings Spark evaluated, in the identical order.
    *
    * MATERIALIZED is load-bearing, not a hint: DuckDB inlines
    * single-reference CTEs, and substituting each step into the next —
    * where most steps reference their predecessor's column twice (a
    * CASE's condition and branch, t in both numerator positions) —
    * grows the expression tree EXPONENTIALLY in chain depth (measured:
    * the trigram-KN oracle went > 240 s un-materialized, 0.5 s
    * materialized, at sf0.001). Materialization only changes WHERE the
    * identical expressions evaluate, never their operation order, so
    * the bit-identity contract is untouched. */
  def cteChain(innerSql: String, steps: Seq[(String, String)],
               prefix: String): (String, String) = {
    val ctes = new StringBuilder
    var prev = s"${prefix}0"
    ctes.append(s"$prev AS MATERIALIZED ($innerSql)")
    steps.zipWithIndex.foreach { case ((name, sql), i) =>
      val cur = s"$prefix${i + 1}"
      ctes.append(
        s",\n      $cur AS MATERIALIZED (SELECT *, $sql AS $name FROM $prev)")
      prev = cur
    }
    (ctes.toString, prev)
  }
}
