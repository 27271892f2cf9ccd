package graft.vpts

/** Python-`str()`-compatible number rendering.
  *
  * The reference serializes every cell with pandas `astype(str)`, i.e.
  * Python's shortest-repr float formatting (`vpts.py:123,134`). Java's
  * legacy `Double.toString` differs (e-notation thresholds, occasional
  * non-shortest output), so golden-file byte parity needs an explicit
  * implementation: find the shortest round-tripping decimal, then apply
  * Python's positional/scientific rules (positional iff -4 <= exp10 < 16).
  */
object PyFormat {

  def pyFloat(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val a = math.abs(d)
    // Double.toString gives a round-tripping decimal; take its significant
    // digits (trailing zeros dropped) and the decimal exponent of the first
    val js = java.lang.Double.toString(a)
    val eIdx = js.indexOf('E')
    val mantEnd = if (eIdx >= 0) eIdx else js.length
    val digits = new Array[Char](mantEnd)
    var n = 0
    var intLen = 0 // digits before the point
    var lead = 0 // zero digits before the first significant one
    var ci = 0
    while (ci < mantEnd) {
      val c = js.charAt(ci)
      if (c == '.') intLen = lead + n
      else if (n == 0 && c == '0') lead += 1
      else { digits(n) = c; n += 1 }
      ci += 1
    }
    while (digits(n - 1) == '0') n -= 1
    val exp0 = intLen - 1 - lead + (if (eIdx >= 0) js.substring(eIdx + 1).toInt else 0)
    // Shortest round-tripping precision: round the full digit string half-up
    // to one digit fewer at a time (as `%.*e` does) while the result still
    // parses back to `a`. Round-trip success is monotone in the digit count,
    // so the first failure ends the search.
    val best = digits.clone()
    var len = n
    var exp = exp0
    val cand = new Array[Char](n)
    var shrinking = n > 1
    while (shrinking) {
      val k = len - 1
      System.arraycopy(digits, 0, cand, 0, k)
      var e = exp0
      if (digits(k) >= '5') {
        var i = k - 1
        while (i >= 0 && cand(i) == '9') { cand(i) = '0'; i -= 1 }
        if (i >= 0) cand(i) = (cand(i) + 1).toChar
        else { cand(0) = '1'; e += 1 } // 9.99 -> 10.0
      }
      if (java.lang.Double.parseDouble(new String(cand, 0, k) + "E" + (e - k + 1)) == a) {
        System.arraycopy(cand, 0, best, 0, k)
        len = k; exp = e; shrinking = k > 1
      } else shrinking = false
    }
    // python layout: positional iff -4 <= exp < 16
    val sb = new java.lang.StringBuilder(len + 8)
    if (d < 0) sb.append('-')
    if (exp >= 16 || exp < -4) {
      sb.append(best(0))
      if (len > 1) sb.append('.').append(best, 1, len - 1)
      val ax = math.abs(exp)
      sb.append('e').append(if (exp < 0) '-' else '+')
      if (ax < 10) sb.append('0')
      sb.append(ax)
    } else if (exp >= len - 1) {
      sb.append(best, 0, len)
      var z = exp - len + 1
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(".0")
    } else if (exp >= 0) {
      sb.append(best, 0, exp + 1).append('.').append(best, exp + 1, len - exp - 1)
    } else {
      sb.append("0.")
      var z = -exp - 1
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(best, 0, len)
    }
    sb.toString
  }

  /** numpy-compatible round-half-even to `scale` decimals: np.round's own
    * algorithm (scale by 10^n, rint, divide — numpy documents it as fast but
    * inexact). Decimal-string-based rounding (BigDecimal.valueOf) diverges on
    * tie-adjacent binary doubles, e.g. 2.675 (really 2.67499999999999982…)
    * rounds to 2.68 via the shortest decimal repr but 2.67 in numpy.
    */
  def roundHalfEven(d: Double, scale: Int): Double = {
    val p = math.pow(10, scale)
    math.rint(d * p) / p
  }
}
