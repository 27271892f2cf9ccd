package graft.sources

import graft.vpts.{SparkTestSession, VpLakeFixture}
import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 "odim" format must agree with the mapPartitions pipeline. */
class OdimDataSourceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private lazy val vpDir: String = VpLakeFixture.fullLake(VpLakeFixture.ReferenceVpLayout).toString

  test("format(\"odim\") reads the VP fixtures into the VPTS schema") {
    val df = spark.read.format("odim").load(vpDir)
    assert(df.schema == graft.vpts.Vpts.schemaV1)
    assert(df.count() == 150)
    val viaPipeline = graft.vpts.Vpts.vptsViaBinaryFile(spark, Seq(vpDir))
      .collect().map(_.toSeq.mkString("|")).sorted
    val viaSource = graft.vpts.Vpts.sortCanonical(df)
      .collect().map(_.toSeq.mkString("|")).sorted
    assert(viaSource.sameElements(viaPipeline))
  }

  test("column pruning and limit reach the odim scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("odim").load(vpDir)
      .select(col("radar"), col("height")).limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=radar,height"), s"pruning missing in:\n$plan")
    assert(plan.contains("limit=3"), s"limit missing in:\n$plan")
    assert(df.collect().length == 3)
  }

  test("radar/datetime predicates prune files at planning time") {
    import org.apache.spark.sql.functions._
    val root = vpDir // 5 bejab files + 1 bewid
    // radar equality prunes the listing down to the single bewid file
    OdimScan.lastPlannedFileCount = -1
    val bewid = spark.read.format("odim").load(root)
      .filter(col("radar") === "bewid")
    assert(bewid.count() == 25)
    assert(OdimScan.lastPlannedFileCount == 1,
      s"expected 1 planned file, got ${OdimScan.lastPlannedFileCount}")
    // datetime range keeps only the bejab 23:45/23:50/23:55 files
    // (+ correctness of the residual filter on the rows themselves)
    OdimScan.lastPlannedFileCount = -1
    val late = spark.read.format("odim").load(root)
      .filter(col("datetime") >= "2022-11-11T23:45:00Z" && col("radar") === "bejab")
    assert(late.count() == 75)
    assert(OdimScan.lastPlannedFileCount == 3,
      s"expected 3 planned files, got ${OdimScan.lastPlannedFileCount}")
    // the pruning filters are visible in the executed plan
    assert(late.queryExecution.executedPlan.toString.contains("pruneFilters="))
    // unprunable predicates leave the listing intact and stay correct
    OdimScan.lastPlannedFileCount = -1
    val all = spark.read.format("odim").load(root)
      .filter(col("height") === "200")
    assert(all.count() == 6) // one 200m level per file
    assert(OdimScan.lastPlannedFileCount == 6)
  }

  test("single-file load works (vp() path)") {
    val df = spark.read.format("odim").load(
      s"$vpDir/bewid/bewid_vp_20221113T023500Z_0xb.h5")
    assert(df.count() == 25)
  }

  /** A lake of one HDF5 file that is not ODIM. */
  private lazy val noOdimDir: String = {
    val d = Files.createTempDirectory("vp_no_odim_h5")
    Files.write(d.resolve("dummy.h5"), VpLakeFixture.nonOdimBytes)
    d.toString
  }

  test("failFast=false skips corrupt files") {
    val df = spark.read.format("odim")
      .option("failFast", "false")
      .load(noOdimDir)
    assert(df.count() == 0)
  }

  test("failFast default surfaces corrupt files as task failures") {
    val df = spark.read.format("odim").load(noOdimDir)
    assertThrows[org.apache.spark.SparkException](df.count())
  }

  test("a missing path fails the load with PATH_NOT_FOUND, as parquet does") {
    val root = Files.createTempDirectory("odim_paths")
    val missing = root.resolve("no_such_dir").toString
    val err = intercept[AnalysisException](spark.read.format("odim").load(missing))
    val parquetErr = intercept[AnalysisException](spark.read.parquet(missing))
    assert(err.getCondition == "PATH_NOT_FOUND")
    assert(err.getMessage == parquetErr.getMessage)
    // an existing but empty directory is an empty lake
    val empty = Files.createDirectory(root.resolve("empty")).toString
    assert(spark.read.format("odim").load(empty).count() == 0)
    // one missing path among several fails the whole load
    val err2 = intercept[AnalysisException](spark.read.format("odim").load(empty, missing))
    assert(err2.getCondition == "PATH_NOT_FOUND")
  }
}
