package graft.odim
import org.scalatest.funsuite.AnyFunSuite
/** Decode micro-profile: keeps the per-file cost visible and guards
  * against rendering regressions (rows rendering was 2 ms/file before the
  * pyFloat precision-seed fix; now well under 1 ms).
  */
class DecodeProfSpec extends AnyFunSuite {
  test("profile single-file decode") {
    // one full profile: 16 quantities x 25 levels
    val bytes = graft.vpts.VpLakeFixture.fullVpBytes("nosta", "20230311", "231500", 1)
    def run(n: Int): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val r = OdimReader.checkVpOdim(OdimReader(bytes, "x.h5"))
        graft.vpts.VptsCsvV1.rows(graft.vpts.BirdProfile.fromOdim(r, "x.h5"))
        i += 1
      }
      (System.nanoTime() - t0) / 1e6 / n
    }
    run(300) // warmup
    println(f"per-file decode+rows: ${run(1000)}%.3f ms")
    // break down: parse-only vs decode vs rows
    val t0 = System.nanoTime()
    (0 until 1000).foreach { _ => OdimReader.checkVpOdim(OdimReader(bytes, "x.h5")) }
    println(f"reader+gate only: ${(System.nanoTime()-t0)/1e6/1000}%.3f ms")
    val r2 = OdimReader.checkVpOdim(OdimReader(bytes, "x.h5"))
    val t1 = System.nanoTime()
    (0 until 1000).foreach { _ => graft.vpts.BirdProfile.fromOdim(r2, "x.h5") }
    println(f"fromOdim only (warm reader): ${(System.nanoTime()-t1)/1e6/1000}%.3f ms")
    val bp = graft.vpts.BirdProfile.fromOdim(r2, "x.h5")
    // min of 3 timed passes: the suite runs under concurrent Spark load,
    // so a single wall-clock sample is noisy
    val rowsMs = (1 to 3).map { _ =>
      val t2 = System.nanoTime()
      (0 until 1000).foreach { _ => graft.vpts.VptsCsvV1.rows(bp) }
      (System.nanoTime() - t2) / 1e6 / 1000
    }.min
    println(f"rows only: $rowsMs%.3f ms")
    // generous catastrophic-only bound: the precise perf signal is the
    // printed numbers + bench; a tight wall-clock assert is flaky on
    // loaded machines
    assert(rowsMs < 5.0, f"rows rendering regressed to $rowsMs%.3f ms/file")
  }
}
