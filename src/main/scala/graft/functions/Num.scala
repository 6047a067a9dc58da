package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine numeric pins (SURVEY §7.4).
  *
  * Library `round()` agrees between Spark and DuckDB on magnitude but not
  * on the SIGN OF ZERO: a difference-typed expression that lands in
  * (−0.5·10⁻ᵈ, 0) — e.g. a slope numerator of −1e-17 over a constant
  * frame — rounds to −0.0 in DuckDB (C `round` preserves the sign) and
  * +0.0 in Spark (BigDecimal HALF_UP returns an unsigned zero). The two
  * compare `==`-equal but differ in their bit pattern, which the driver's
  * raw-value hash sees (r8's `win_moving_slope` fail: row 472, bits 0x0 vs
  * 0x8000000000000000).
  */
object Num {

  /** Half-up-TOWARD-+∞ rounding pinned to the identical IEEE chain on
    * both engines: floor(x·10ᵈ + 0.5) / 10ᵈ. floor(−ε·10ᵈ + 0.5) = 0.0
    * (positive zero) on both Spark and DuckDB, so every rounded output
    * whose argument can be a tiny negative (slopes, correlations,
    * deviations, gaps, z-scores) must use this chain — with the oracle
    * SQL mirroring it verbatim as `floor((expr) * 1eD + 0.5) / 1eD`.
    * Powers of ten up to 1e15 are exact doubles, so the scale factor
    * itself introduces no drift.
    *
    * Tie semantics differ from library round() on NEGATIVE halfway
    * values: the chain rounds ties toward +∞ (−2.5e-6 → −2e-6 at d=6),
    * not away from zero as HALF_UP would (−2.5e-6 → −3e-6). This is the
    * intended contract — the chain exists to make the two engines agree
    * bit-for-bit, and both mirror it, so the negative-tie direction is
    * consistent everywhere it matters. Callers that need away-from-zero
    * ties must NOT use pin (use `signum(x)·floor(|x|·10ᵈ + 0.5)/10ᵈ` on
    * both sides instead); no declared query currently does. */
  def pin(c: Column, d: Int): Column = {
    require(d >= 0 && d <= 15, s"pin scale out of exact-double range: $d")
    val p = math.pow(10, d)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Exact fold of a numeric column as DOUBLE: summed as DECIMAL(28,10),
    * so the total does not depend on row or partition order and matches
    * the oracle's DECIMAL fold bit for bit. */
  def dsum(c: Column): Column = sum(c.cast("decimal(28,10)")).cast("double")

  /** Exact fold of the integer product a·b as DOUBLE: the factors widen to
    * DECIMAL(19,0), so the products fold as DECIMAL(38,0) and never
    * overflow a BIGINT (a count product does once the counts pass ~3e9). */
  def psum(a: Column, b: Column): Column =
    sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
}
