package graft.odim

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Corrupt-input behavior: a truncated or bit-flipped file must fail fast
  * with an exception (never hang or return garbage silently) so the
  * failFast=false path can skip it cleanly.
  */
class Hdf5RobustnessSpec extends AnyFunSuite {

  /** A reference VP file in the legacy format libhdf5 writes (superblock
    * v0, v1 headers, symbol-table groups). Lazy: where vptstools' fixtures
    * are absent, only the three legacy-format tests fail, on this path.
    */
  private lazy val fixture = Files.readAllBytes(Paths.get(
    "/root/reference/tests/data/vp/bewid/bewid_vp_20221113T023500Z_0xb.h5"))

  private def tryDecode(bytes: Array[Byte]): Either[Throwable, Int] =
    try {
      val r = OdimReader.checkVpOdim(OdimReader(bytes, "x.h5"))
      Right(graft.vpts.BirdProfile.fromOdim(r, "x.h5").levels.size)
    } catch { case t: Throwable => Left(t) }

  test("intact fixture decodes") {
    assert(tryDecode(fixture) == Right(25))
  }

  test("truncations fail fast with exceptions") {
    Seq(0, 4, 7, 8, 24, 64, 200, 1000, fixture.length / 2, fixture.length - 7)
      .foreach { n =>
        val res = tryDecode(java.util.Arrays.copyOf(fixture, n))
        assert(res.isLeft, s"truncation to $n bytes unexpectedly decoded: $res")
      }
  }

  test("random single-byte corruption never hangs (decodes or throws)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val b = fixture.clone()
      val pos = rnd.nextInt(b.length)
      b(pos) = (b(pos) ^ (1 << rnd.nextInt(8))).toByte
      val t0 = System.nanoTime()
      tryDecode(b) // Either outcome is acceptable; must return promptly
      assert((System.nanoTime() - t0) / 1e9 < 10.0, s"slow decode after flip @$pos")
    }
  }

  // ---- same robustness bar for the MODERN-format parsing paths
  // (superblock v3, OHDR v2, dense groups, v4 chunk indexes) ----

  /** A generated full VP file (16 quantities x 25 levels), which the
    * test-side writer emits in the modern format.
    */
  private lazy val modern: Array[Byte] =
    graft.vpts.VpLakeFixture.fullVpBytes("bewid", "20221113", "023500", 1)

  test("modern format: intact rewrite decodes") {
    assert(tryDecode(modern) == Right(25))
  }

  test("modern format: truncations fail fast with exceptions") {
    // the root header sits at the END of the writer's layout and its last
    // messages are the root attributes the decode never reads — clipping
    // only those parses fine (lazy reads, like libhdf5); -60 cuts into the
    // last link message's address, which the decode does need
    Seq(0, 8, 12, 47, 48, 100, 500, modern.length / 2, modern.length - 60)
      .foreach { n =>
        val res = tryDecode(java.util.Arrays.copyOf(modern, n))
        assert(res.isLeft, s"truncation to $n bytes unexpectedly decoded: $res")
      }
    // documented lazy tolerance: a tail cut confined to unread root attrs
    // + checksum still decodes
    assert(tryDecode(java.util.Arrays.copyOf(modern, modern.length - 12)) == Right(25))
  }

  test("modern format: random single-byte corruption never hangs") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val b = modern.clone()
      val pos = rnd.nextInt(b.length)
      b(pos) = (b(pos) ^ (1 << rnd.nextInt(8))).toByte
      val t0 = System.nanoTime()
      tryDecode(b) // Either outcome is acceptable; must return promptly
      assert((System.nanoTime() - t0) / 1e9 < 10.0, s"slow decode after flip @$pos")
    }
  }
}
