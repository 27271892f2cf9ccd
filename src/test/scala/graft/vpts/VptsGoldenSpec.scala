package graft.vpts

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden-file parity with the reference test suite: the daily VPTS CSV
  * produced from the 5 nosta fixtures must byte-match
  * tests/data/inventory/nosta_vpts_20230311.csv
  * (reference test: tests/test_vph5_to_vpts.py:45-68).
  */
class VptsGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  val fixtureDir = "/root/reference/tests/data/inventory/vp"
  val golden = "/root/reference/tests/data/inventory/nosta_vpts_20230311.csv"

  test("daily VPTS CSV byte-matches the reference golden") {
    val df = Vpts.vpts(spark, Seq(fixtureDir))
    val out = Files.createTempDirectory("vpts").resolve("nosta_daily.csv")
    Vpts.vptsToCsv(df, out.toString)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(Paths.get(golden)), "UTF-8")
    val gotLines = got.split("\n", -1)
    val wantLines = want.split("\n", -1)
    assert(gotLines.length == wantLines.length,
      s"line count ${gotLines.length} vs ${wantLines.length}")
    gotLines.zip(wantLines).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"line $i differs:\n  got:  $g\n  want: $w")
    }
  }

  test("6 VP fixtures: 150 rows, exactly 75 duplicated (radar,datetime,height)") {
    // duplicate-preservation invariant, tests/test_vpts.py:84-91
    val df = Vpts.vpts(spark, Seq("/root/reference/tests/data/vp"))
    assert(df.count() == 150)
    // pandas duplicated().sum() == total - distinct == 75
    val distinct = df.select("radar", "datetime", "height").distinct().count()
    assert(150 - distinct == 75, s"expected 75 duplicated rows, got ${150 - distinct}")
  }

  test("canonical sort is idempotent") {
    val lake = Files.createTempDirectory("vpts_idem")
    VpLakeFixture.writeLake(lake, Seq("nosta", "bejab"), "20230311",
      Seq("231500", "000000", "120500"), Set("000000"), seed = 3)
    val df = Vpts.vpts(spark, Seq(lake.toString))
    val once = df.collect().map(_.toSeq)
    val twice = Vpts.sortCanonical(df).collect().map(_.toSeq)
    assert(once.sameElements(twice) || once.toSeq == twice.toSeq)
  }

  test("PVOL file is rejected by the VP gate") {
    val bytes = VpLakeFixture.pvolBytes("bewid", "20170214", "000000")
    val r = graft.odim.OdimReader(bytes, "bewid_pvol.h5")
    assertThrows[graft.odim.InvalidSourceOdim](graft.odim.OdimReader.checkVpOdim(r))
  }

  test("non-ODIM hdf5 is rejected") {
    val bytes = VpLakeFixture.nonOdimBytes
    val r = graft.odim.OdimReader(bytes, "dummy.h5")
    assertThrows[graft.odim.InvalidSourceOdim](graft.odim.OdimReader.checkVpOdim(r))
  }
}
