package graft.sources

import graft.lake.{Inventory, VptsLakeWriter}
import graft.streaming.OdimStream
import graft.vpts.{SparkTestSession, VpLakeFixture}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One file-name rule for every ETL step: a file name that holds two ODIM
  * names is keyed by the LAST one (the reference's `OdimFilePath` regex),
  * in the scan's file pruning, the stream's day rebuild and the inventory
  * alike. Ordinary names keep their one reading.
  */
class OdimNameRuleSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  /** nosta content of 2023-03-11T23:15 under a name whose first ODIM name
    * is bejab's.
    */
  val DoubleName = "bejab_vp_20221111T2330Z_nosta_vp_20230311T2315Z.h5"
  val SingleName = VpLakeFixture.fileName("bewid", "20221113", "023500", 1)

  /** A flat lake of the double-named nosta file and one ordinary bewid file. */
  private def lake(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("vp_names")
    Files.write(dir.resolve(DoubleName),
      VpLakeFixture.fullVpBytes("nosta", "20230311", "231500", 1))
    Files.write(dir.resolve(SingleName),
      VpLakeFixture.fullVpBytes("bewid", "20221113", "023500", 1))
    dir
  }

  private def planned(dir: String, radar: String): (Long, Int) = {
    OdimScan.lastPlannedFileCount = -1
    val n = spark.read.format("odim").load(dir).filter(col("radar") === radar).count()
    (n, OdimScan.lastPlannedFileCount)
  }

  test("the odim scan prunes by the last ODIM name in a file name") {
    val dir = lake().toString
    assert(planned(dir, "nosta") == (25L, 1))
    assert(planned(dir, "bejab") == (0L, 0))
    assert(planned(dir, "bewid") == (25L, 1))
    OdimScan.lastPlannedFileCount = -1
    val day = spark.read.format("odim").load(dir)
      .filter(col("datetime") >= "2023-03-11T23:15:00Z")
    assert(day.count() == 25)
    assert(OdimScan.lastPlannedFileCount == 1)
  }

  test("the stream rebuilds the day the last ODIM name gives") {
    val in = lake().toString
    val out = Files.createTempDirectory("names_lake").toString
    val ckpt = Files.createTempDirectory("names_ckpt").toString
    OdimStream.writeToLake(spark, in, out, ckpt)
    assert(Files.isDirectory(java.nio.file.Paths.get(
      s"$out/p_radar=nosta/p_year=2023/p_month=03/p_day=11")))
    val back = VptsLakeWriter.read(spark, out)
    assert(back.filter(col("p_radar") === "nosta").count() == 25)
    assert(back.filter(col("p_radar") === "bewid" && col("p_day") === 13).count() == 25)
    assert(back.count() == 50)
  }

  test("the inventory counts the file in the same radar-day") {
    val inv = Files.createTempFile("names_inventory", ".csv")
    Files.write(inv, Seq(
      s"dummy,baltrad/hdf5/nosta/2023/03/11/$DoubleName,123,2023-03-12T00:00:00.000Z",
      s"dummy,baltrad/hdf5/bewid/2022/11/13/$SingleName,123,2023-03-12T00:00:00.000Z")
      .mkString("\n").getBytes("UTF-8"))
    val counts = Inventory.collectDayCounts(Inventory.read(spark, inv.toString), None)
      .map(d => (d.source, d.radar, d.yyyy, d.mm, d.dd, d.fileCount)).sorted
    assert(counts == Seq(
      ("baltrad", "bewid", "2022", "11", "13", 1L),
      ("baltrad", "nosta", "2023", "03", "11", 1L)))
  }
}
