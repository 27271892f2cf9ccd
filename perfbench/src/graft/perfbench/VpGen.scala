package graft.perfbench

import graft.odim.MiniHdf5Writer
import graft.odim.MiniHdf5Writer.{WDataset, WGroup}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded generator of vol2bird-style ODIM HDF5 vertical-profile files.
  *
  * Every file is a VP object with 16 quantities x 25 levels (0..4800 m,
  * step 200): f32 variables at full f32 precision (so rendering does real
  * shortest-repr work), integer counts, a 0/1 `gap`, and ~10% nodata plus
  * ~10% undetect cells in the float variables, with realistic
  * what/where/how attributes at a 5-minute cadence. The bytes come from
  * the test-side [[MiniHdf5Writer]] (superblock v3, dense groups).
  *
  * A profile is a pure function of (seed, radar, time, variant): the
  * output checks regenerate the expected values instead of trusting the
  * program's reader or renderer.
  */
object VpGen {

  val Levels = 25
  val LevelStep = 200
  val CadenceSec = 300L
  val ProfilesPerDay: Int = (86400L / CadenceSec).toInt
  val NoData = -9999.0
  val Undetect = -9998.0

  /** Float quantities and their value ranges. */
  val FloatVars: Seq[(String, Double, Double)] = Seq(
    ("u", -20.0, 20.0), ("v", -20.0, 20.0), ("w", -1.5, 1.5),
    ("ff", 0.0, 28.0), ("dd", 0.0, 360.0), ("sd_vvp", 0.0, 6.0),
    ("eta", 0.0, 5000.0), ("dens", 0.0, 450.0), ("dbz", -30.0, 30.0),
    ("DBZH", -30.0, 40.0))
  val CountVars: Seq[String] = Seq("n", "n_dbz", "n_all", "n_dbz_all")

  final case class Radar(code: String, wmo: String, rad: String, plc: String,
      lat: Double, lon: Double, height: Double, wavelength: Double, vcp: Long)

  /** One profile's raw cell values: `floats(q)(level)` (f32-exact doubles
    * or a sentinel), `counts(q)(level)`, `gap(level)`.
    */
  final case class Profile(radar: Radar, epochSec: Long, variant: Int,
      floats: Array[Array[Double]], counts: Array[Array[Long]], gap: Array[Long]) {
    val date: String = dateOf(epochSec)
    val time: String = timeOf(epochSec)
    val datetimeIso: String =
      s"${date.take(4)}-${date.slice(4, 6)}-${date.slice(6, 8)}T" +
        s"${time.take(2)}:${time.slice(2, 4)}:${time.slice(4, 6)}Z"
    val fileName: String = s"${radar.code}_vp_${date}T${time}Z_${if (variant == 0) "0x9" else "0xb"}.h5"

    /** Key of the file inside a bucket:
      * `baltrad/hdf5/{radar}/{yyyy}/{mm}/{dd}/{file}` (the lake layout).
      */
    def lakeKey: String =
      s"baltrad/hdf5/${radar.code}/${date.take(4)}/${date.slice(4, 6)}/${date.slice(6, 8)}/$fileName"
  }

  private def utc(epochSec: Long) = Instant.ofEpochSecond(epochSec).atOffset(ZoneOffset.UTC)
  def dateOf(epochSec: Long): String = {
    val t = utc(epochSec)
    f"${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d"
  }
  def timeOf(epochSec: Long): String = {
    val t = utc(epochSec)
    f"${t.getHour}%02d${t.getMinute}%02d${t.getSecond}%02d"
  }

  /** Timestamps per radar-day that carry a second file. */
  val DupsPerDay = 6

  /** The (time, variant) files of one radar-day at a 5-minute cadence;
    * [[DupsPerDay]] seeded timestamps carry a second file (suffix `0xb`)
    * with other values: duplicates a VPTS file must keep, ordered by
    * source_file.
    */
  def daySlots(seed: Long, radar: Radar, day: LocalDate): IndexedSeq[(Long, Int)] = {
    val t0 = dayStart(day)
    val rnd = new SplittableRandom(mix(seed, radar.code, t0, 7))
    val dups = Iterator.continually(rnd.nextInt(ProfilesPerDay)).distinct.take(DupsPerDay).toSet
    (0 until ProfilesPerDay).flatMap { slot =>
      val ts = t0 + slot * CadenceSec
      if (dups(slot)) Seq(ts -> 0, ts -> 1) else Seq(ts -> 0)
    }
  }

  def radarDay(seed: Long, radar: Radar, day: LocalDate): IndexedSeq[Profile] =
    daySlots(seed, radar, day).map { case (ts, v) => profile(seed, radar, ts, v) }

  private val Countries = Seq("be", "nl", "de", "fr", "pl", "fi", "se", "no", "dk", "cz")

  /** `n` distinct radars, a pure function of the seed. */
  def radars(seed: Long, n: Int): IndexedSeq[Radar] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val codes = scala.collection.mutable.LinkedHashSet.empty[String]
    while (codes.size < n) {
      val c = Countries(rnd.nextInt(Countries.size)) +
        (1 to 3).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      codes += c
    }
    codes.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      Radar(c, f"0${6000 + rnd.nextInt(4000)}%d", f"${c.take(2).toUpperCase}${40 + i}%d",
        c.capitalize + "ville",
        lat = 45.0 + rnd.nextDouble() * 20.0, lon = -5.0 + rnd.nextDouble() * 30.0,
        height = (50 + rnd.nextInt(900)).toDouble,
        wavelength = Seq(5.3, 5.33, 5.31, 10.6)(rnd.nextInt(4)),
        vcp = Seq(0L, 12L, 21L)(rnd.nextInt(3)))
    }.sortBy(_.code)
  }

  private def mix(seed: Long, code: String, epochSec: Long, variant: Int): Long =
    seed * 0x9E3779B97F4A7C15L ^ code.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^
      epochSec * 0x165667B19E3779F9L ^ variant.toLong

  def profile(seed: Long, radar: Radar, epochSec: Long, variant: Int): Profile = {
    val rnd = new SplittableRandom(mix(seed, radar.code, epochSec, variant))
    val floats = FloatVars.map { case (_, lo, hi) =>
      Array.fill(Levels) {
        val u = rnd.nextDouble()
        if (u < 0.1) NoData
        else if (u < 0.2) Undetect
        else (lo + rnd.nextDouble() * (hi - lo)).toFloat.toDouble
      }
    }.toArray
    val counts = CountVars.map(_ => Array.fill(Levels)(rnd.nextInt(6000).toLong)).toArray
    val gap = Array.fill(Levels)(if (rnd.nextInt(4) == 0) 1L else 0L)
    Profile(radar, epochSec, variant, floats, counts, gap)
  }

  private def qty(name: String, values: Array[Double], isInt: Boolean): WGroup =
    WGroup(Nil, Seq(
      "data" -> WDataset(Seq("CLASS" -> "IMAGE", "IMAGE_VERSION" -> "1.2"),
        Array(Levels.toLong, 1L), values, isInt, if (isInt) 8 else 4),
      "what" -> WGroup(Seq("gain" -> 1.0, "nodata" -> NoData, "offset" -> 0.0,
        "quantity" -> name, "undetect" -> Undetect), Nil)))

  /** The ODIM HDF5 bytes of one profile. */
  def bytes(p: Profile): Array[Byte] = {
    val r = p.radar
    val heights = Array.tabulate(Levels)(i => (i * LevelStep).toDouble)
    val quantities =
      Seq("HGHT" -> qty("HGHT", heights, isInt = false)) ++
        FloatVars.indices.map(i => FloatVars(i)._1 -> qty(FloatVars(i)._1, p.floats(i), isInt = false)) ++
        Seq("gap" -> qty("gap", p.gap.map(_.toDouble), isInt = true)) ++
        CountVars.indices.map(i => CountVars(i) -> qty(CountVars(i), p.counts(i).map(_.toDouble), isInt = true))
    val dataset1 = WGroup(Nil,
      quantities.zipWithIndex.map { case ((_, g), i) => s"data${i + 1}" -> g } :+
        ("what" -> WGroup(Seq("product" -> "VP", "startdate" -> p.date,
          "starttime" -> p.time, "enddate" -> p.date, "endtime" -> p.time), Nil)))
    val root = WGroup(Seq("Conventions" -> "ODIM_H5/V2_3"), Seq(
      "what" -> WGroup(Seq("date" -> p.date, "object" -> "VP",
        "source" -> s"WMO:${r.wmo},RAD:${r.rad},PLC:${r.plc},NOD:${r.code}",
        "time" -> p.time, "version" -> "H5rad 2.3"), Nil),
      "where" -> WGroup(Seq("height" -> r.height, "interval" -> LevelStep.toDouble,
        "lat" -> r.lat, "levels" -> Levels.toLong, "lon" -> r.lon,
        "maxheight" -> (Levels * LevelStep).toDouble, "minheight" -> 0.0), Nil),
      "how" -> WGroup(Seq(
        "beamwidth" -> 1.0, "clutterMap" -> "none", "comment" -> "generated",
        "dealiased" -> 1L, "enddate" -> p.date,
        "endtime" -> timeOf(p.epochSec + 240),
        "maxazim" -> 360.0, "maxrange" -> 35.0, "minazim" -> 0.0,
        "minrange" -> 5.0, "nyquist_min" -> 10.3, "rcs_bird" -> 11.0,
        "sd_vvp_thresh" -> 2.0, "software" -> "vol2bird",
        "sw_version" -> "0.6.0", "startdate" -> p.date, "starttime" -> p.time,
        "task" -> "vol2bird",
        "task_args" -> "azimMax=360.000000,azimMin=0.000000,layerThickness=200.000000",
        "task_version" -> "0.6.0", "vcp" -> r.vcp, "wavelength" -> r.wavelength), Nil),
      "dataset1" -> dataset1))
    MiniHdf5Writer.write(root)
  }

  /** Epoch seconds of midnight UTC of `d`. */
  def dayStart(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond
}
