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
