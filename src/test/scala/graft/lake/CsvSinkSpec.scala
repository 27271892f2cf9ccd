package graft.lake

import graft.vpts.{SparkTestSession, VpLakeFixture, VptsCsvV1}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

/** The monthly concatenation ([[CsvSink.concatCsvFiles]]) on generated
  * daily files, and a full [[LakeController.run]] on a generated lake.
  */
class CsvSinkSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val header = VptsCsvV1.columns.mkString(",")

  private def gunzip(p: Path): String = {
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Gzip members in `bytes`: each ends with its CRC32 and size, so count by
    * inflating one member after the other.
    */
  private def members(bytes: Array[Byte]): Int = {
    var n = 0
    var off = 0
    while (off < bytes.length) {
      val flags = bytes(off + 3)
      assert(bytes(off) == 0x1f.toByte && bytes(off + 1) == 0x8b.toByte && flags == 0)
      val inflater = new java.util.zip.Inflater(true)
      inflater.setInput(bytes, off + 10, bytes.length - off - 10)
      val sink = new Array[Byte](1 << 16)
      while (!inflater.finished()) inflater.inflate(sink)
      off = bytes.length - inflater.getRemaining + 8
      inflater.end()
      n += 1
    }
    n
  }

  /** Generated daily bodies: `rows` lines of `day`-dependent cells. */
  private def body(day: Int, rows: Int): Seq[String] =
    (0 until rows).map(i => s"bejab,2024-03-${f"$day%02d"}T00:${f"${i % 60}%02d"}:00Z,$i,${i * day % 97},\"q,$i\"")

  test("monthly gzip: header once, then every daily body in date order") {
    val dir = Files.createTempDirectory("daily")
    val days = 1 to 9
    val bodies = days.map(d => d -> (if (d == 1 || d == 4) Nil else body(d, 300 * d))).toMap
    val files = days.map { d =>
      val p = dir.resolve(f"bejab_vpts_202403$d%02d.csv")
      val text = d match {
        case 1 => "" // empty daily: no header either
        case 3 => (header +: bodies(d)).mkString("\r\n") + "\r\n" // CRLF
        case 5 => (header +: bodies(d)).mkString("\n") // no final newline
        case _ => (header +: bodies(d)).map(_ + "\n").mkString
      }
      Files.writeString(p, text)
      p.toString
    }
    val out = dir.resolve("bejab_vpts_202403.csv.gz")
    CsvSink.concatCsvFiles(spark, files, out.toString, gzip = true)
    val want = (header +: days.flatMap(bodies)).map(_ + "\n").mkString
    assert(gunzip(out) == want)
    // the header, then days 2, 3 and 5-9 (1 is empty, 4 has only a header)
    assert(members(Files.readAllBytes(out)) == 1 + 7)

    val plain = dir.resolve("plain.csv")
    CsvSink.concatCsvFiles(spark, files, plain.toString, gzip = false)
    assert(Files.readString(plain) == want)
  }

  test("monthly gzip of empty dailies is an empty gzip file, and a missing daily fails") {
    val dir = Files.createTempDirectory("daily")
    val empty = dir.resolve("a.csv")
    Files.writeString(empty, "")
    val out = dir.resolve("m.csv.gz")
    CsvSink.concatCsvFiles(spark, Seq(empty.toString), out.toString, gzip = true)
    assert(gunzip(out) == "")
    intercept[java.io.FileNotFoundException](CsvSink.concatCsvFiles(spark,
      Seq(empty.toString, dir.resolve("missing.csv").toString), out.toString, gzip = true))
  }

  test("LakeController.run on a generated lake: coverage, dailies and the monthly file") {
    val bucket = Files.createTempDirectory("lake")
    val now = Instant.parse("2024-03-15T12:00:00Z")
    val times = Seq("0000", "0005", "1200")
    val inventory = for {
      (radar, dd, stamp) <- Seq(("bejab", "14", "2024-03-15T02:00:00.000Z"),
        ("bejab", "15", "2024-03-15T11:00:00.000Z"), ("bewid", "15", "2024-03-01T00:00:00.000Z"))
      t <- times
    } yield {
      val name = VpLakeFixture.fileName(radar, s"202403$dd", t + "00", 0)
      val key = s"baltrad/hdf5/$radar/2024/03/$dd/$name"
      val f = bucket.resolve(key)
      Files.createDirectories(f.getParent)
      Files.write(f, VpLakeFixture.vpBytes(radar, s"202403$dd", t + "00", 0, seed = 7))
      s"aloft,$key,${Files.size(f)},$stamp"
    }
    val invPath = bucket.resolve("inventory.csv")
    Files.writeString(invPath, inventory.mkString("\n"))
    val prior = bucket.resolve("baltrad/daily/bejab/2024/bejab_vpts_20240313.csv")
    Files.createDirectories(prior.getParent)
    Files.writeString(prior, header + "\n" + body(13, 5).mkString("\n") + "\n")

    val (okDays, okMonths) = LakeController.run(spark, bucket.toString, invPath.toString, 2, now,
      Some(bucket.resolve("coverage.csv").toString))
    assert((okDays, okMonths) == ((2, 1)))
    assert(Files.readString(bucket.resolve("coverage.csv")) ==
      "directory,file_count\nbaltrad/hdf5/bejab/2024/03/14,3\n" +
        "baltrad/hdf5/bejab/2024/03/15,3\nbaltrad/hdf5/bewid/2024/03/15,3\n")
    val dailies = Seq("13", "14", "15").map(d => prior.resolveSibling(s"bejab_vpts_202403$d.csv"))
    dailies.tail.foreach(d => assert(Files.readString(d).linesIterator.size == 1 + 3 * VpLakeFixture.Levels))
    val monthly = bucket.resolve("baltrad/monthly/bejab/2024/bejab_vpts_202403.csv.gz")
    assert(gunzip(monthly) == header + "\n" +
      dailies.map(d => Files.readString(d).linesWithSeparators.drop(1).mkString).mkString)
    assert(!Files.exists(bucket.resolve("baltrad/daily/bewid")))
  }
}
