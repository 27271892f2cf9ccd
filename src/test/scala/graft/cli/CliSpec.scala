package graft.cli

import graft.vpts.{SparkTestSession, VpLakeFixture}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

class CliSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  test("transferBaltrad sync: F3 filter + F4 anti-join + lake layout copy") {
    val src = Files.createTempDirectory("ftp")
    val dst = Files.createTempDirectory("lake")
    // stage: 2 VP files + 1 PVOL (must be ignored)
    val vpDir = VpLakeFixture.fullLake(VpLakeFixture.nostaDay(3))
    val vps = Files.list(vpDir).sorted.toArray.take(2)
      .map(_.asInstanceOf[java.nio.file.Path])
    vps.foreach(f => Files.copy(f, src.resolve(f.getFileName)))
    Files.write(src.resolve("bewid_pvol_20170214T0000Z_0x1.h5"),
      VpLakeFixture.pvolBytes("bewid", "20170214", "000000"))

    val n1 = TransferBaltrad.sync(spark, src.toString, dst.toString, "baltrad")
    assert(n1 == 2) // PVOL filtered out
    assert(Files.exists(dst.resolve(
      s"baltrad/hdf5/nosta/2023/03/11/${vps(0).getFileName}")))

    // second run: everything already transferred -> anti-join empties the diff
    val n2 = TransferBaltrad.sync(spark, src.toString, dst.toString, "baltrad")
    assert(n2 == 0)

    // a new file appears -> only it is transferred
    val extra = Files.list(vpDir).sorted.toArray.drop(2).head.asInstanceOf[java.nio.file.Path]
    Files.copy(extra, src.resolve(extra.getFileName), StandardCopyOption.REPLACE_EXISTING)
    assert(TransferBaltrad.sync(spark, src.toString, dst.toString, "baltrad") == 1)
  }

  test("transferBaltrad against an in-process mock SFTP-style server") {
    // The connector seam the reference's paramiko client occupies: an
    // in-process "server" that only supports listdir + get, with fetch
    // accounting to prove already-transferred files are never re-fetched.
    class MockSftp(files: Map[String, Array[Byte]]) extends TransferBaltrad.RemoteSource {
      val fetched = scala.collection.mutable.ArrayBuffer.empty[String]
      override def listFileNames(): Seq[String] = files.keys.toSeq.sorted
      override def get(name: String): Array[Byte] = { fetched += name; files(name) }
    }
    val payloadA = "h5-bytes-a".getBytes
    val payloadB = "h5-bytes-b".getBytes
    val server = new MockSftp(Map(
      "nosta_vp_20230311T000000Z_0x9.h5" -> payloadA,
      "nosta_vp_20230311T001500Z_0x9.h5" -> payloadB,
      "bewid_pvol_20170214T0000Z_0x1.h5" -> "pvol".getBytes)) // F3-filtered
    val dst = Files.createTempDirectory("sftplake")

    val n1 = TransferBaltrad.sync(spark, server, dst.toString, "baltrad")
    assert(n1 == 2)
    assert(server.fetched.sorted == Seq(
      "nosta_vp_20230311T000000Z_0x9.h5", "nosta_vp_20230311T001500Z_0x9.h5"))
    val landed = dst.resolve("baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T000000Z_0x9.h5")
    assert(Files.exists(landed))
    assert(Files.readAllBytes(landed).sameElements(payloadA))

    // idempotent second run: anti-join empties the diff, zero fetches
    server.fetched.clear()
    assert(TransferBaltrad.sync(spark, server, dst.toString, "baltrad") == 0)
    assert(server.fetched.isEmpty)
  }

  test("vph5ToVpts --path-folder glob mode rebuilds the daily golden") {
    val bucket = Files.createTempDirectory("globlake").toString
    val h5Dir = Paths.get(s"$bucket/baltrad/hdf5/nosta/2023/03/11")
    Files.createDirectories(h5Dir)
    val invDir = Paths.get("/root/reference/tests/data/inventory")
    Files.list(invDir.resolve("vp")).forEach { f =>
      Files.copy(f, h5Dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    Vph5ToVpts.run(spark, Array(
      "--bucket", bucket, "--path-folder", s"$bucket/baltrad/hdf5"))
    val daily = new String(Files.readAllBytes(
      Paths.get(s"$bucket/baltrad/daily/nosta/2023/nosta_vpts_20230311.csv")), "UTF-8")
    val want = new String(Files.readAllBytes(
      invDir.resolve("nosta_vpts_20230311.csv")), "UTF-8")
    assert(daily == want, "glob-mode daily output differs from golden")
    // monthly gz produced for the same month
    assert(Files.exists(Paths.get(
      s"$bucket/baltrad/monthly/nosta/2023/nosta_vpts_202303.csv.gz")))
  }

  test("vph5ToVpts --path-folder and inventory mode rebuild a generated lake to the same bytes") {
    val h5 = "baltrad/hdf5/nosta/2023/03"
    val files = VpLakeFixture.nostaDay(3).map(_.copy(dir = s"$h5/11")) ++
      Seq("000000", "000500").map(t =>
        VpLakeFixture.VpFile(s"$h5/12", "nosta", "20230312", t, 0))
    def stdout(args: String*): Seq[String] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        Vph5ToVpts.run(spark, args.toArray)
      }
      new String(out.toByteArray, "UTF-8").split("\n").toSeq
    }
    val globBucket = VpLakeFixture.fullLake(files)
    assert(stdout("--bucket", globBucket.toString, "--path-folder", s"$globBucket/baltrad/hdf5") ==
      Seq("Create 2 daily VPTS files.", "Finished VPTS update procedure."))

    val invBucket = VpLakeFixture.fullLake(files)
    val inventory = invBucket.resolve("inventory.csv")
    Files.write(inventory, files.map(v =>
      s"dummy,${v.dir}/${VpLakeFixture.fileName(v.radar, v.date, v.time, v.variant)}," +
        "123,2023-03-12T00:00:00.000Z").mkString("\n").getBytes("UTF-8"))
    assert(stdout("--bucket", invBucket.toString, "--inventory", inventory.toString,
        "--modified-days-ago", "0") ==
      Seq("Recreate the full set of bucket files. This will take a while!",
        "Created 2 daily and 1 monthly VPTS files.", "Finished VPTS update procedure."))

    val outputs = Seq("daily/nosta/2023/nosta_vpts_20230311.csv",
      "daily/nosta/2023/nosta_vpts_20230312.csv", "monthly/nosta/2023/nosta_vpts_202303.csv.gz")
    outputs.foreach { o =>
      val glob = Files.readAllBytes(globBucket.resolve(s"baltrad/$o"))
      assert(glob.sameElements(Files.readAllBytes(invBucket.resolve(s"baltrad/$o"))),
        s"$o differs between --path-folder and inventory mode")
    }
    // header + 3 profiles x 25 levels
    assert(new String(Files.readAllBytes(globBucket.resolve(s"baltrad/${outputs.head}")),
      "UTF-8").split("\n").length == 1 + 3 * 25)
  }

  test("both CLIs reject an unknown option or an option with no value before any work") {
    def usageError(run: => Unit): String = intercept[IllegalArgumentException](run).getMessage
    // a typo of --modified-days-ago would otherwise run the default 2-day window
    val typo = usageError(Vph5ToVpts.run(spark, Array("--bucket", "/nope",
      "--inventory", "/nope.csv", "--modified-day-ago", "0")))
    assert(typo.contains("unknown option --modified-day-ago"), typo)
    assert(usageError(Vph5ToVpts.run(spark, Array("--bucket", "/nope",
      "--inventory", "/nope.csv", "--coverage"))).contains("option --coverage needs a value"))
    assert(usageError(Vph5ToVpts.run(spark, Array("--bucket", "--inventory", "/nope.csv")))
      .contains("option --bucket needs a value"))
    // main parses before it builds (and at exit stops) a session
    assert(usageError(TransferBaltrad.main(Array("--lake_source", "x", "--source", "/nope")))
      .contains("unknown option --lake_source"))
    assert(usageError(TransferBaltrad.main(Array("--source", "/nope", "--destination")))
      .contains("option --destination needs a value"))
  }

  test("CLI failures publish a reference-format alert and re-raise (K7 seam)") {
    class Collecting extends Alerting.AlertSink {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      override def alert(s: String, m: String): Unit = got += ((s, m))
    }
    val sink = new Collecting
    val prev = Alerting.sink
    Alerting.sink = sink
    try {
      val e = intercept[RuntimeException] {
        Vph5ToVpts.main(Array("--inventory", "/nope.csv"))
      }
      assert(e.getMessage.contains("--bucket required"))
      assert(sink.got.size == 1)
      val (subject, message) = sink.got.head
      assert(subject == "[vptstools] vph5_to_vpts failed")
      // reference message shape: CLI routine '<name> <args>' failed raising
      // error: '<type>: <msg>'. (click_exception.py:93-96)
      assert(message.startsWith("CLI routine 'vph5_to_vpts --inventory /nope.csv' failed raising error:"))
      assert(message.contains("--bucket required"))

      intercept[RuntimeException] { TransferBaltrad.main(Array.empty) }
      assert(sink.got.size == 2 && sink.got.last._1.contains("transfer_baltrad"))
    } finally Alerting.sink = prev
  }
}
