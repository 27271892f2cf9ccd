package graft.vpts

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Python-str rendering parity properties (the invariant the golden-file
  * byte-compare depends on).
  */
class PyFormatSpec extends AnyFunSuite {

  test("known python reprs") {
    assert(PyFormat.pyFloat(11.0) == "11.0")
    assert(PyFormat.pyFloat(5.3) == "5.3")
    assert(PyFormat.pyFloat(-8.041890144348145) == "-8.041890144348145")
    assert(PyFormat.pyFloat(0.000123) == "0.000123")
    assert(PyFormat.pyFloat(0.0000123) == "1.23e-05")
    assert(PyFormat.pyFloat(1.0e16) == "1e+16")
    assert(PyFormat.pyFloat(1.5e16) == "1.5e+16")
    assert(PyFormat.pyFloat(123456789.0) == "123456789.0")
    assert(PyFormat.pyFloat(0.0) == "0.0")
    assert(PyFormat.pyFloat(-0.0) == "-0.0")
    assert(PyFormat.pyFloat(Double.NegativeInfinity) == "-inf")
    assert(PyFormat.pyFloat(8.131323814392090f.toDouble) == "8.13132381439209")
  }

  test("property: parse(pyFloat(d)) == d over random doubles") {
    val rnd = new scala.util.Random(42)
    (1 to 20000).foreach { _ =>
      val d = rnd.nextInt(5) match {
        case 0 => (rnd.nextDouble() - 0.5) * 1e12
        case 1 => (rnd.nextDouble() - 0.5) * 1e-3
        case 2 => (rnd.nextDouble() - 0.5) * 1e20
        case 3 => rnd.nextFloat().toDouble // f32-widened values (ODIM data)
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
          case x if x.isNaN || x.isInfinite => 1.0
          case x => x
        }
      }
      val s = PyFormat.pyFloat(d)
      assert(s.toDouble == d, s"$d -> $s")
    }
  }

  test("property: pyFloat output is shortest (removing last digit breaks round-trip)") {
    val rnd = new scala.util.Random(7)
    (1 to 5000).foreach { _ =>
      val d = (rnd.nextDouble() - 0.5) * 1e6
      val s = PyFormat.pyFloat(d)
      val digits = s.filter(_.isDigit)
      if (digits.length > 1 && !s.contains("e")) {
        val truncated = s.dropRight(1)
        if (truncated.nonEmpty && truncated.last.isDigit)
          assert(truncated.toDouble != d || s.last == '0',
            s"$s not shortest for $d")
      }
    }
  }

  private def matchesReference(gen: Gen[Double], n: Int): Unit = {
    val prop = Prop.forAllNoShrink(gen) { d =>
      val got = PyFormat.pyFloat(d)
      val want = PyFormatReference.pyFloat(d)
      Prop(got == want) :| s"${java.lang.Double.doubleToRawLongBits(d)}L: $got != $want"
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  /** Doubles whose bits are arbitrary, minus NaN and infinities. */
  private val anyBits: Gen[Double] = Gen.long.map(java.lang.Double.longBitsToDouble)
    .map(x => if (x.isNaN || x.isInfinite) 1.0 else x)

  test("differential: f32-widened doubles render as the reference does") {
    matchesReference(Gen.oneOf(
      Gen.choose(-1000.0f, 1000.0f).map(_.toDouble),
      Gen.choose(Int.MinValue, Int.MaxValue).map(i => java.lang.Float.intBitsToFloat(i).toDouble)
        .map(x => if (x.isNaN || x.isInfinite) 0.5 else x)), 300000)
  }

  test("differential: doubles from arbitrary bit patterns render as the reference does") {
    matchesReference(anyBits, 300000)
  }

  test("differential: gaussian and 6-decimal values render as the reference does") {
    matchesReference(Gen.oneOf(
      Gen.gaussian(0.0, 1.0).flatMap(g => Gen.choose(-8, 20).map(s => g * math.pow(10, s))),
      Gen.choose(-180000000L, 180000000L).map(l => PyFormat.roundHalfEven(l / 1e6, 6))), 300000)
  }

  test("differential: zeros, subnormals, layout and carry boundaries render as the reference does") {
    val fixed = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, 1e16, 1e16 - 2, 9999999999999998.0,
      1.0000000000000002e16, 1e-4, 1e-5, 0.00009999999999999999, 0.0001000000000000001,
      9.5, 0.95, 99.99, 9.999999999999998, 0.9999999999999999, 999999.9999999999,
      0.5, 5e-324, 1e22, 1e23, 2e-3, 1.5e16, 123456789.0)
    fixed.foreach(d => assert(PyFormat.pyFloat(d) == PyFormatReference.pyFloat(d), s"$d"))
    // neighbours of powers of ten (layout switches and carries), and
    // subnormals (2- and 1-digit shortest forms)
    val nearBoundary: Gen[Double] = for {
      e <- Gen.choose(-324, 308)
      steps <- Gen.choose(-3L, 3L)
      lead <- Gen.oneOf(1.0, 9.5, 0.95, 99.99, 9.999, 5.0)
    } yield {
      val x = lead * math.pow(10, e)
      if (x.isInfinite || x == 0.0) 1.0
      else java.lang.Double.longBitsToDouble(java.lang.Double.doubleToRawLongBits(x) + steps)
    }
    val subnormal = Gen.choose(1L, (1L << 52) - 1).map(java.lang.Double.longBitsToDouble)
    matchesReference(Gen.oneOf(nearBoundary, subnormal, nearBoundary.map(-_)), 200000)
  }

  test("numpy-style half-even rounding") {
    assert(PyFormat.roundHalfEven(0.5, 0) == 0.0)
    assert(PyFormat.roundHalfEven(1.5, 0) == 2.0)
    assert(PyFormat.roundHalfEven(2.5, 0) == 2.0)
    assert(PyFormat.roundHalfEven(5.300000190734863, 6) == 5.3)
    assert(PyFormat.roundHalfEven(51.191700000000004, 6) == 51.1917)
  }
}
