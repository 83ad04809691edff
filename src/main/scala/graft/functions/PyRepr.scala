package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Python-`repr` rendering of a double (F9 hard part).
  *
  * The reference renders InfluxDB field values with `"{!s}={!r}".format(...)`
  * (`consumers/influxdb/consumer.py:142`): ints bare, floats via CPython's
  * `float_repr` — the SHORTEST decimal string that round-trips, in fixed
  * notation when the decimal exponent is in [-4, 16), else scientific with a
  * sign and ≥2 exponent digits (`1e+16`, `6.1e-05`), and always at least one
  * fractional digit in fixed form (`2.0`, not `2`).
  *
  * Java's `Double.toString` disagrees on both counts (`1.0E16`,
  * `1.2345678E7`), so byte-identical goldens need this kernel. DuckDB's
  * `CAST(x AS DOUBLE)::VARCHAR` implements the same shortest-round-trip +
  * threshold rules, which is what makes the result oracle-checkable.
  */
object PyRepr {

  /** Shortest CORRECTLY-ROUNDED round-trip digits + decimal exponent.
    * Returns (digits-without-point, exp10 of the first digit).
    *
    * Rounding matters, not just round-tripping: on decimal-tie doubles
    * (exact value ending in …x.25 at the last kept digit) BOTH candidate
    * strings round-trip, and CPython/DuckDB pick the correctly-rounded
    * one (half-even on the EXACT binary value) while Java's `%.pe`
    * formats HALF_UP — ~1.5e-4 of random doubles diverge. Rounding the
    * exact `new BigDecimal(d)` expansion with HALF_EVEN reproduces the
    * CPython choice digit-for-digit. */
  private def shortest(d: Double): (String, Int) = {
    val exact = new java.math.BigDecimal(d) // exact binary expansion
    var p = 1
    while (p <= 17) {
      val r = exact.round(
        new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
      if (r.doubleValue() == d) {
        val c = r.stripTrailingZeros()
        val digits = c.unscaledValue().abs().toString
        val exp10 = digits.length - 1 - c.scale()
        return (digits, exp10)
      }
      p += 1
    }
    // unreachable: 17 significant digits always round-trip a double
    throw new IllegalStateException(s"no shortest repr for $d")
  }

  /** CPython `repr(float)` (Python 3 shortest-repr semantics). */
  def repr(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "nan"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "inf"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val (s, exp10) = shortest(math.abs(d))
    val n = s.length
    val body =
      if (exp10 >= -4 && exp10 < 16) {
        if (exp10 >= n - 1) s + "0" * (exp10 - (n - 1)) + ".0"
        else if (exp10 >= 0) s.substring(0, exp10 + 1) + "." + s.substring(exp10 + 1)
        else "0." + "0" * (-exp10 - 1) + s
      } else {
        val mant = if (n > 1) s.substring(0, 1) + "." + s.substring(1) else s
        val absExp = math.abs(exp10)
        val expStr = (if (exp10 < 0) "-" else "+") +
          (if (absExp < 10) "0" + absExp else absExp.toString)
        mant + "e" + expStr
      }
    if (neg) "-" + body else body
  }

  def reprUtf8(d: Double): UTF8String = UTF8String.fromString(repr(d))

  def pyRepr(c: Column): Column =
    ColumnBridge.staticCall(this, "reprUtf8", StringType)(c)
}
