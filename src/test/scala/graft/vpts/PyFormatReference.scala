package graft.vpts

/** The `java.util.Formatter`-based `pyFloat` that [[PyFormat.pyFloat]]
  * replaced: each candidate precision is a `%.*e` format plus a parse.
  * Kept as the reference the differential spec compares against.
  */
object PyFormatReference {

  def pyFloat(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val a = math.abs(d)
    // shortest precision whose %.*e round-trips, seeded from
    // Double.toString's significant-digit count
    val js = java.lang.Double.toString(a)
    val eIdx = js.indexOf('E')
    var sig = 0
    var seenNz = false
    var ci = 0
    val mantEnd = if (eIdx >= 0) eIdx else js.length
    while (ci < mantEnd) {
      val c = js.charAt(ci)
      if (c >= '0' && c <= '9') {
        if (c != '0') seenNz = true
        if (seenNz) sig += 1
      }
      ci += 1
    }
    var p = math.max(0, math.min(17, sig - 1))
    def fmt(pp: Int): String =
      String.format(java.util.Locale.ROOT, "%." + pp + "e", Double.box(a))
    var s = fmt(p)
    if (s.toDouble != a) {
      while (s.toDouble != a && p < 17) { p += 1; s = fmt(p) }
    } else {
      var shrinking = p > 0
      while (shrinking) {
        val t = fmt(p - 1)
        if (t.toDouble == a) { s = t; p -= 1; shrinking = p > 0 }
        else shrinking = false
      }
    }
    // s = "d.dddde±XX"
    val Array(mant, expStr) = s.split("e")
    val exp = expStr.toInt
    val digits = mant.replace(".", "")
    val body =
      if (exp >= 16 || exp < -4) {
        val m = if (digits.length == 1) digits else digits.head + "." + digits.tail
        val es = (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
        s"${m}e$es"
      } else if (exp >= digits.length - 1) {
        digits + "0" * (exp - digits.length + 1) + ".0"
      } else if (exp >= 0) {
        digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
      } else {
        "0." + "0" * (-exp - 1) + digits
      }
    if (neg) "-" + body else body
  }
}
