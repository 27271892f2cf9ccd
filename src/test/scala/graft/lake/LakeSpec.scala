package graft.lake

import graft.vpts.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.GZIPInputStream

/** Golden parity for the lake pipeline against the reference fixtures
  * (tests/test_s3.py:408-568, tests/test_vph5_to_vpts.py:20-68).
  */
class LakeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val invDir = "/root/reference/tests/data/inventory"

  def gunzip(path: java.nio.file.Path): String = {
    val in = new GZIPInputStream(Files.newInputStream(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("manifest scan yields the inventory chunk keys (S5)") {
    val keys = Inventory.manifestKeys(spark, s"$invDir/dummy_manifest.json")
    assert(keys == Seq(
      "dummy-aloftdata/dummy-aloftdata-hdf5-files-inventory/data/dummy_inventory.csv.gz"))
    // manifest-driven read resolves chunks and produces the same coverage
    val inv = Inventory.readFromManifest(spark, s"$invDir/dummy_manifest.json")
    assert(Inventory.coverage(inv).count() == 5)
  }

  test("coverage CSV matches the reference golden") {
    val inv = Inventory.read(spark, s"$invDir/dummy_inventory.csv.gz")
    val out = Files.createTempDirectory("cov").resolve("coverage.csv")
    CsvSink.writeSingleCsv(Inventory.coverage(inv), out.toString)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(Paths.get(s"$invDir/coverage.csv")), "UTF-8")
    assert(got == want)
  }

  test("modified-window day selection matches reference expectations") {
    // windows relative to the fixture's max modified (2023-01-31): 60 days
    // selects all 5 radar-days, 5 days selects the 2023-01-28+ subset, 1 day
    // selects only the 2023-01-31 rows (cf. test_s3.py:414-425).
    val inv = Inventory.read(spark, s"$invDir/dummy_inventory.csv.gz")
    val now = java.time.Instant.parse("2023-01-31T12:00:00Z")
    def days(win: Int) = LakeController.dayKeys(Inventory.daysToRebuild(inv, win, now))
    assert(days(60).size == 5)
    assert(days(5).map(d => (d.radar, d.dd)).toSet ==
      Set(("fiuta", "24"), ("nosta", "11"), ("plpoz", "23")))
    assert(days(1).map(_.radar).toSet == Set("nosta"))
    // 0 expands to the full bucket age (vph5_to_vpts.py:132-138): every
    // radar-day present in the inventory is rebuilt, regardless of `now`
    assert(days(0).size == 5)
    assert(LakeController.dayKeys(Inventory.daysToRebuild(inv, 0,
      java.time.Instant.parse("2030-01-01T00:00:00Z"))).size == 5)
  }

  test("end-to-end incremental rebuild: daily + monthly byte-match goldens") {
    // Stage a local "bucket" with the 5 nosta h5 files laid out like the
    // reference's moto bucket, plus an inventory pointing at them.
    val bucket = Files.createTempDirectory("lake").toString
    val h5Dir = Paths.get(s"$bucket/baltrad/hdf5/nosta/2023/03/11")
    Files.createDirectories(h5Dir)
    Files.list(Paths.get(s"$invDir/vp")).forEach { f =>
      Files.copy(f, h5Dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    val invLines = Files.list(h5Dir).sorted.toArray.map { f =>
      s"""dummy,baltrad/hdf5/nosta/2023/03/11/${f.asInstanceOf[java.nio.file.Path].getFileName},123,2023-03-12T00:00:00.000Z"""
    }
    val invPath = Paths.get(s"$bucket/inventory.csv")
    Files.write(invPath, invLines.mkString("\n").getBytes("UTF-8"))

    val (okDays, okMonths) = LakeController.run(
      spark, bucket, invPath.toString, modifiedDaysAgo = 2,
      now = java.time.Instant.parse("2023-03-12T12:00:00Z"),
      coverageOut = Some(s"$bucket/coverage.csv"))
    assert(okDays == 1 && okMonths == 1)

    val daily = new String(Files.readAllBytes(
      Paths.get(s"$bucket/baltrad/daily/nosta/2023/nosta_vpts_20230311.csv")), "UTF-8")
    val wantDaily = new String(Files.readAllBytes(
      Paths.get(s"$invDir/nosta_vpts_20230311.csv")), "UTF-8")
    assert(daily == wantDaily, "daily output differs from golden")

    val monthly = gunzip(Paths.get(s"$bucket/baltrad/monthly/nosta/2023/nosta_vpts_202303.csv.gz"))
    val wantMonthly = gunzip(Paths.get(s"$invDir/nosta_vpts_202303.csv.gz"))
    assert(monthly == wantMonthly, "monthly output differs from golden")
  }

  test("end-to-end rebuild against a non-file:// object-store scheme (s3a seam)") {
    // no S3 endpoint / hadoop-aws exists offline; the s3a claim rests on
    // every IO going through Path.getFileSystem(conf) — proven here by
    // running the FULL rebuild (inventory read, DSv2 h5 scan on executors,
    // daily CSV sink, monthly gzip concat) against a custom mocks3://
    // scheme registered via the same fs.<scheme>.impl mechanism s3a uses
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[MockObjectStoreFileSystem].getName)
    val local = Files.createTempDirectory("mocks3lake").toString
    val bucket = s"mocks3://$local"
    val h5Dir = Paths.get(s"$local/baltrad/hdf5/nosta/2023/03/11")
    Files.createDirectories(h5Dir)
    Files.list(Paths.get(s"$invDir/vp")).forEach { f =>
      Files.copy(f, h5Dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    val invLines = Files.list(h5Dir).sorted.toArray.map { f =>
      s"""dummy,baltrad/hdf5/nosta/2023/03/11/${f.asInstanceOf[java.nio.file.Path].getFileName},123,2023-03-12T00:00:00.000Z"""
    }
    Files.write(Paths.get(s"$local/inventory.csv"),
      invLines.mkString("\n").getBytes("UTF-8"))

    val (okDays, okMonths) = LakeController.run(
      spark, bucket, s"$bucket/inventory.csv", modifiedDaysAgo = 2,
      now = java.time.Instant.parse("2023-03-12T12:00:00Z"),
      coverageOut = Some(s"$bucket/coverage.csv"))
    assert(okDays == 1 && okMonths == 1)

    val daily = new String(Files.readAllBytes(
      Paths.get(s"$local/baltrad/daily/nosta/2023/nosta_vpts_20230311.csv")), "UTF-8")
    val wantDaily = new String(Files.readAllBytes(
      Paths.get(s"$invDir/nosta_vpts_20230311.csv")), "UTF-8")
    assert(daily == wantDaily, "daily output differs from golden via mocks3://")

    val monthly = gunzip(Paths.get(s"$local/baltrad/monthly/nosta/2023/nosta_vpts_202303.csv.gz"))
    assert(monthly == gunzip(Paths.get(s"$invDir/nosta_vpts_202303.csv.gz")),
      "monthly output differs from golden via mocks3://")
  }

  test("a generated lake rebuilds to the same bytes through file:// and mocks3://") {
    // the s3a seam without reference goldens: one generated nosta day in
    // the hdf5/<radar>/yyyy/mm/dd layout, rebuilt once per scheme; the
    // file:// run is the expected output of the mocks3:// run
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[MockObjectStoreFileSystem].getName)
    val day = LakeController.DayKey("baltrad", "nosta", "2023", "03", "11")
    val month = LakeController.MonthKey("baltrad", "nosta", "2023", "03")
    val files = graft.vpts.VpLakeFixture.nostaDay(5)
      .map(_.copy(dir = "baltrad/hdf5/nosta/2023/03/11"))
    def rebuild(scheme: String): (Array[Byte], Array[Byte]) = {
      val local = graft.vpts.VpLakeFixture.fullLake(files).toString
      LakeController.rebuildDay(spark, s"$scheme://$local", day)
      LakeController.rebuildMonth(spark, s"$scheme://$local", month)
      (Files.readAllBytes(Paths.get(day.dailyCsvPath(local))),
        Files.readAllBytes(Paths.get(month.monthlyCsvPath(local))))
    }
    val (fileDaily, fileMonthly) = rebuild("file")
    val (s3Daily, s3Monthly) = rebuild("mocks3")
    // header + 5 profiles x 25 levels
    assert(new String(fileDaily, "UTF-8").split("\n").length == 1 + 5 * 25)
    assert(s3Daily.sameElements(fileDaily), "daily CSV differs via mocks3://")
    assert(s3Monthly.sameElements(fileMonthly), "monthly gzip differs via mocks3://")
  }

  test("each monthly gzip holds only its own month when the bucket path holds a month's digits") {
    // the month is matched in the daily file NAME: under a bucket named
    // lake_202303, a match on the whole path would put April's daily
    // file into March's gzip
    val bucketDir = "lake_202303"
    val files = Seq(("03", "11"), ("04", "02")).flatMap { case (mm, dd) =>
      Seq("000000", "000500").map(t => graft.vpts.VpLakeFixture.VpFile(
        s"$bucketDir/baltrad/hdf5/nosta/2023/$mm/$dd", "nosta", s"2023$mm$dd", t, 0))
    }
    val bucket = graft.vpts.VpLakeFixture.fullLake(files).resolve(bucketDir).toString
    val days = Seq(("03", "11"), ("04", "02")).map { case (mm, dd) =>
      LakeController.DayKey("baltrad", "nosta", "2023", mm, dd)
    }
    assert(LakeController.rebuild(spark, bucket, days) == ((2, 2)))
    for (mm <- Seq("03", "04")) {
      val month = LakeController.MonthKey("baltrad", "nosta", "2023", mm)
      val rows = gunzip(Paths.get(month.monthlyCsvPath(bucket))).split("\n").toSeq.tail
      // 2 profiles x 25 levels, every one dated in the month
      assert(rows.size == 2 * 25, s"2023-$mm")
      assert(rows.forall(_.split(",")(1).startsWith(s"2023-$mm-")), s"2023-$mm")
    }
  }

  test("the lake writer overwrites its own days only, and leaves the session's overwrite mode static") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    try {
      val vpts = Seq(("nosta", "2023-03-11T23:15:00Z", 200, "a.h5"))
        .toDF("radar", "datetime", "height", "source_file")
      VptsLakeWriter.writePartitioned(vpts, Files.createTempDirectory("lake").toString)
      assert(spark.conf.get(key).equalsIgnoreCase("STATIC"))
      // a plain partitioned overwrite in the same session replaces the table
      val dir = Files.createTempDirectory("static-overwrite").resolve("t")
      Seq((1, "a"), (2, "b")).toDF("p", "v")
        .write.mode("overwrite").partitionBy("p").parquet(dir.toString)
      Seq((1, "c")).toDF("p", "v")
        .write.mode("overwrite").partitionBy("p").parquet(dir.toString)
      assert(!Files.exists(dir.resolve("p=2")), "partition p=2 survived a static overwrite")
      assert(spark.read.parquet(dir.toString).as[(String, Int)].collect().toSeq == Seq(("c", 1)))
    } finally spark.conf.set(key, before)
  }

  test("validate op reports zero errors on golden output and catches bad cells") {
    // five nosta profiles of one day, like the reference's inventory/vp
    val vpDir = graft.vpts.VpLakeFixture.fullLake(graft.vpts.VpLakeFixture.nostaDay(5))
    val df = graft.vpts.Vpts.vpts(spark, Seq(vpDir.toString))
    val report = graft.vpts.Validate.validateVpts(df)
    assert(report.errors == 0, s"unexpected violations: ${report.byRule.filter(_._2 > 0)}")
    import org.apache.spark.sql.functions._
    val bad = df.withColumn("datetime", lit("not-a-date"))
      .withColumn("gap", lit("MAYBE"))
    val badReport = graft.vpts.Validate.validateVpts(bad)
    assert(badReport.byRule("datetime_format") == df.count())
    assert(badReport.byRule("gap_enum") == df.count())
  }
}
