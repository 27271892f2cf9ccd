package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import VpGen.Profile

/** Output checks that do not use the program's reader or renderer: every
  * CSV cell is parsed back and compared with the generator's value.
  */
object Checks {

  val Header: String = Seq(
    "radar", "datetime", "height", "u", "v", "w", "ff", "dd", "sd_vvp", "gap",
    "eta", "dens", "dbz", "dbz_all", "n", "n_dbz", "n_all", "n_dbz_all",
    "rcs", "sd_vvp_threshold", "vcp", "radar_latitude", "radar_longitude",
    "radar_height", "radar_wavelength", "source_file").mkString(",")

  /** Per-level columns 3..17 in output order: Left(float index) for float
    * quantities, Right(-1) for gap, Right(count index) for counts.
    */
  private val levelCols: Seq[Either[Int, Int]] = {
    def f(q: String) = Left(VpGen.FloatVars.indexWhere(_._1 == q))
    def c(q: String) = Right(VpGen.CountVars.indexOf(q))
    Seq(f("u"), f("v"), f("w"), f("ff"), f("dd"), f("sd_vvp"), Right(-1),
      f("eta"), f("dens"), f("dbz"), f("DBZH"), c("n"), c("n_dbz"), c("n_all"),
      c("n_dbz_all"))
  }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  private val PyFloat = "-?(\\d+\\.\\d+|\\d(\\.\\d+)?e[+-]\\d\\d)".r

  private def floatCell(cell: String, raw: Double): Boolean =
    if (raw == VpGen.NoData) cell.isEmpty
    else if (raw == VpGen.Undetect) cell == "NaN"
    else PyFloat.matches(cell) && cell.toDouble == raw

  /** A coordinate rounded to 6 decimals. */
  private def rounded6(cell: String, v: Double): Boolean =
    PyFloat.matches(cell) && cell.dropWhile(_ != '.').length <= 7 &&
      math.abs(cell.toDouble - v) <= 5.000001e-7

  /** Expected row order: canonical sort (radar, datetime, height as int,
    * source_file) of every (profile, level).
    */
  def expectedOrder(profiles: Seq[Profile]): IndexedSeq[(Profile, Int)] =
    profiles.groupBy(p => (p.radar.code, p.datetimeIso)).toIndexedSeq.sortBy(_._1)
      .flatMap { case (_, ps) =>
        val sorted = ps.sortBy(_.fileName)
        (0 until VpGen.Levels).flatMap(l => sorted.map(_ -> l))
      }

  /** Mismatch description of one row, or None. */
  def rowError(line: String, p: Profile, level: Int): Option[String] = {
    val c = line.split(",", -1)
    if (c.length != 26) return Some(s"${c.length} cells")
    val r = p.radar
    val checks = Seq(
      "radar" -> (c(0) == r.code),
      "datetime" -> (c(1) == p.datetimeIso),
      "height" -> (c(2) == (level * VpGen.LevelStep).toString),
      "rcs" -> (PyFloat.matches(c(18)) && c(18).toDouble == 11.0),
      "sd_vvp_threshold" -> (PyFloat.matches(c(19)) && c(19).toDouble == 2.0),
      "vcp" -> (c(20) == (if (r.vcp == 0) "" else r.vcp.toString)),
      "radar_latitude" -> rounded6(c(21), r.lat),
      "radar_longitude" -> rounded6(c(22), r.lon),
      "radar_height" -> (c(23) == r.height.toLong.toString),
      "radar_wavelength" -> rounded6(c(24), r.wavelength),
      "source_file" -> (c(25) == p.fileName)) ++
      levelCols.zipWithIndex.map { case (col, i) =>
        val ok = col match {
          case Left(q) => floatCell(c(3 + i), p.floats(q)(level))
          case Right(-1) => c(3 + i) == (if (p.gap(level) == 1) "TRUE" else "FALSE")
          case Right(q) => c(3 + i) == p.counts(q)(level).toString
        }
        s"column ${3 + i}" -> ok
      }
    checks.collectFirst { case (name, false) => s"$name mismatch in '$line'" }
  }

  /** Checks one VPTS CSV against its source profiles. Returns the file's
    * SHA-256 or the first error.
    */
  def vptsCsv(path: Path, profiles: Seq[Profile]): Either[String, String] = {
    if (!Files.isRegularFile(path)) return Left(s"$path: missing")
    val bytes = Files.readAllBytes(path)
    val lines = new String(bytes, UTF_8).split("\n", -1)
    val expected = expectedOrder(profiles)
    if (lines.isEmpty || lines(0) != Header) Left(s"$path: bad header")
    else if (lines.last.nonEmpty) Left(s"$path: no final newline")
    else if (lines.length - 2 != expected.size)
      Left(s"$path: ${lines.length - 2} rows, expected ${expected.size} (files x ${VpGen.Levels})")
    else {
      var i = 0
      var err: Option[String] = None
      var prev: (String, String, Int, String) = null
      while (err.isEmpty && i < expected.size) {
        val line = lines(i + 1)
        val (p, level) = expected(i)
        err = rowError(line, p, level).map(e => s"$path row ${i + 1}: $e")
        if (err.isEmpty) {
          val c = line.split(",", -1)
          val key = (c(0), c(1), c(2).toInt, c(25))
          if (prev != null && Ordering[(String, String, Int, String)].gt(prev, key))
            err = Some(s"$path row ${i + 1}: canonical sort violated")
          prev = key
        }
        i += 1
      }
      err.toLeft(sha256(bytes))
    }
  }

  /** A monthly file: the gunzipped bytes equal the header plus the bodies
    * of `dailies` (already in date order). Returns its SHA-256.
    */
  def monthlyGz(path: Path, dailies: Seq[Path]): Either[String, String] = {
    if (!Files.isRegularFile(path)) return Left(s"$path: missing")
    val bytes = Files.readAllBytes(path)
    val gunzipped =
      try new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes)).readAllBytes()
      catch { case e: java.io.IOException => return Left(s"$path: not gzip (${e.getMessage})") }
    val expected = new java.io.ByteArrayOutputStream()
    expected.write((Header + "\n").getBytes(UTF_8))
    dailies.foreach { d =>
      val b = Files.readAllBytes(d)
      val nl = b.indexOf('\n'.toByte)
      expected.write(b, nl + 1, b.length - nl - 1)
    }
    if (java.util.Arrays.equals(gunzipped, expected.toByteArray)) Right(sha256(bytes))
    else Left(s"$path: not the header plus the ${dailies.size} daily bodies in date order")
  }
}
