package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, count, lit, round, sum}

/** Order-invariant sums/means of double columns on the long fast path.
  *
  * The driver's hash gate compares rounded doubles, so group sums must be
  * identical under every partitioning — plain `sum(double)` is not
  * (addition order flips the last ulp, and a group within an ulp of a
  * rounding boundary flips its rounded digit with the core count). The
  * previous remedy, per-row cast to DECIMAL(30,6), is exact but its
  * precision > 18 forces Spark's BigDecimal sum path — measured ~1 s per
  * million rows of pure overhead.
  *
  * This form quantizes each value to a 6 dp long (`round(x·1e6)`: the
  * identical IEEE product + half-away-from-zero round on Spark and
  * DuckDB), splits it `div`/`%` 1e9, and sums both halves in EXACT long
  * arithmetic (ANSI-overflow-checked up to Σ|x| < 9.2e21 — beyond any
  * realistic corpus aggregate; Spark `div` and DuckDB `//` both truncate
  * toward zero, so the `v6 = hi·1e9 + lo` identity holds for negatives).
  * The closing double expression must be mirrored TEXTUALLY in oracle
  * SQL — identical integer-to-double conversions and IEEE ops produce
  * bit-identical doubles on both engines. The raw split sum reads
  *
  * `(CAST(sum(CAST(round((x) * 1000000) AS BIGINT) // 1000000000) AS
  * DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((x) * 1000000) AS
  * BIGINT) % 1000000000) AS DOUBLE))`
  *
  * and the k-dp result is `round(raw / 10^(6-k)) / 10^k` — scale-0
  * rounding only (see [[dsum]] for why fractional-scale round() is not
  * portable across engines).
  */
object ExactAgg {

  /** `(Σhi)·1e9 + Σlo` as a double — the split sum BEFORE descaling. */
  def splitSumRaw(c: Column): Column = {
    val v6 = round(c * lit(1000000)).cast("long")
    sum(call_function("div", v6, lit(1000000000L))).cast("double") * lit(1000000000.0) +
      sum(v6 % lit(1000000000L)).cast("double")
  }

  private def pow10(k: Int): Double = math.pow(10.0, k)

  /** Order-invariant `round(sum(x), scale)` as a double.
    *
    * ROUNDS AT SCALE 0 of the partially-descaled value, then divides:
    * `round(raw / 10^(6-k)) / 10^k`. Fractional-scale `round(d, k)` is
    * NOT portable at exact half boundaries — the boundary (e.g. .67485)
    * is not binary-representable, and Spark rounds the SHORTEST DECIMAL
    * REPR of `d` (BigDecimal.valueOf → "0.67485" → HALF_UP → .6749)
    * while DuckDB rounds the binary value (.674849999… → .6748). At
    * scale 0 the boundary K.5 IS representable, both engines round
    * exact halves away from zero, and a shortest repr can never sit on
    * the other side of a representable boundary — so identical input
    * doubles give identical results, always. */
  def dsum(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0,6], got $scale")
    round(splitSumRaw(c) / lit(pow10(6 - scale))) / lit(pow10(scale))
  }

  /** Order-invariant `round(avg(x), scale)`; same scale-0 rounding, with
    * `/ count(*)` applied before the round (oracle mirror:
    * `round(raw / 10^(6-k) / count(*)) / 10^k`). */
  def davg(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0,6], got $scale")
    round(splitSumRaw(c) / lit(pow10(6 - scale)) / count(lit(1))) / lit(pow10(scale))
  }

  /** [[splitSumRaw]] as a WINDOW aggregate — two long window sums over
    * the same frame, combined in the projection. */
  def splitSumRawOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val v6 = round(c * lit(1000000)).cast("long")
    sum(call_function("div", v6, lit(1000000000L))).over(w).cast("double") * lit(1000000000.0) +
      sum(v6 % lit(1000000000L)).over(w).cast("double")
  }

  /** Unrounded windowed sum as a double (`raw / 1e6`). */
  def dsumUnroundedOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    splitSumRawOver(c, w) / lit(1000000.0)

  /** Windowed [[dsum]] — scale-0 rounding of the frame sum. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec, scale: Int): Column = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0,6], got $scale")
    round(splitSumRawOver(c, w) / lit(pow10(6 - scale))) / lit(pow10(scale))
  }
}
