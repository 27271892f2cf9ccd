package graft.vpts

import graft.odim.MiniHdf5Writer
import graft.odim.MiniHdf5Writer.{WDataset, WGroup}
import java.nio.file.{Files, Path}

/** Generated ODIM VP lakes for specs that need valid files but no
  * reference fixtures.
  *
  * Small files ([[vpBytes]], [[writeLake]]) hold `Levels` altitude levels
  * (0..1000 m, so the string and integer orders of `height` differ) of a
  * float quantity (u, with nodata and undetect cells), an integer one (n)
  * and the 0/1 gap flag, with the what/where/how attributes the VPTS rows
  * read. Values are a pure function of (seed, radar, time, variant).
  * Full files ([[fullVpBytes]], [[fullLake]]) have the shape of
  * vptstools' fixtures (FIXTURES.md section 1): 16 quantities x 25 levels.
  */
object VpLakeFixture {

  val Levels = 6
  val NoData = -9999.0
  val Undetect = -9998.0

  /** ODIM file name; `variant` 0 and 1 give the `0x9`/`0xb` pair of one
    * timestamp.
    */
  def fileName(radar: String, date: String, time: String, variant: Int): String =
    s"${radar}_vp_${date}T${time}Z_${if (variant == 0) "0x9" else "0xb"}.h5"

  private def quantity(name: String, values: Array[Double], isInt: Boolean): WGroup =
    WGroup(Nil, Seq(
      "data" -> WDataset(Nil, Array(values.length.toLong, 1L), values, isInt, if (isInt) 8 else 4),
      "what" -> WGroup(Seq("gain" -> 1.0, "nodata" -> NoData, "offset" -> 0.0,
        "quantity" -> name, "undetect" -> Undetect), Nil)))

  /** The ODIM HDF5 bytes of one VP file. */
  def vpBytes(radar: String, date: String, time: String, variant: Int, seed: Long): Array[Byte] = {
    val rnd = new java.util.SplittableRandom(
      seed ^ radar.hashCode.toLong * 31 ^ (date + time).hashCode.toLong * 17 ^ variant)
    val u = Array.fill(Levels) {
      val x = rnd.nextDouble()
      if (x < 0.1) NoData else if (x < 0.2) Undetect
      else ((x - 0.5) * 40).toFloat.toDouble
    }
    val quantities = Seq(
      quantity("HGHT", Array.tabulate(Levels)(i => i * 200.0), isInt = false),
      quantity("u", u, isInt = false),
      quantity("gap", Array.fill(Levels)(rnd.nextInt(2).toDouble), isInt = true),
      quantity("n", Array.fill(Levels)(rnd.nextInt(5000).toDouble), isInt = true))
    val root = WGroup(Seq("Conventions" -> "ODIM_H5/V2_3"), Seq(
      "what" -> WGroup(Seq("date" -> date, "object" -> "VP",
        "source" -> s"WMO:06000,RAD:XX00,NOD:$radar", "time" -> time), Nil),
      "where" -> WGroup(Seq("height" -> 120.0, "lat" -> 51.1917, "lon" -> 3.0642), Nil),
      "how" -> WGroup(Seq("rcs_bird" -> 11.0, "sd_vvp_thresh" -> 2.0, "vcp" -> 0L,
        "wavelength" -> 5.3), Nil),
      "dataset1" -> WGroup(Nil,
        quantities.zipWithIndex.map { case (q, i) => s"data${i + 1}" -> q } :+
          ("what" -> WGroup(Seq("product" -> "VP"), Nil)))))
    MiniHdf5Writer.write(root)
  }

  /** HDF5 bytes with no ODIM what/where/how groups. */
  def nonOdimBytes: Array[Byte] =
    MiniHdf5Writer.write(WGroup(Seq("title" -> "not odim"), Seq(
      "data" -> WDataset(Nil, Array(3L), Array(1.0, 2.0, 3.0), isInt = false, 8))))

  /** Writes one file per (radar, time) of `date` under `dir/radar/`, plus a
    * second (`0xb`) file for each time in `dupTimes`. Returns the paths.
    */
  def writeLake(dir: Path, radars: Seq[String], date: String, times: Seq[String],
      dupTimes: Set[String], seed: Long): Seq[Path] =
    for {
      r <- radars
      t <- times
      v <- if (dupTimes(t)) Seq(0, 1) else Seq(0)
    } yield {
      val f = dir.resolve(r).resolve(fileName(r, date, t, v))
      Files.createDirectories(f.getParent)
      Files.write(f, vpBytes(r, date, t, v, seed))
    }

  // ---- full-size profiles, shaped like vptstools' `tests/data/vp` ----

  /** Levels of a full profile: 0..4800 m in steps of [[LevelStep]]. */
  private val FullLevels = 25
  private val LevelStep = 200

  /** The float quantities besides HGHT, with their value ranges. */
  private val FloatQuantities: Seq[(String, Double, Double)] = Seq(
    ("u", -20.0, 20.0), ("v", -20.0, 20.0), ("w", -1.5, 1.5), ("ff", 0.0, 28.0),
    ("dd", 0.0, 360.0), ("sd_vvp", 0.0, 6.0), ("eta", 0.0, 5000.0),
    ("dens", 0.0, 450.0), ("dbz", -30.0, 30.0), ("DBZH", -30.0, 40.0))
  private val CountQuantities = Seq("n", "n_dbz", "n_all", "n_dbz_all")

  /** The ODIM tree of one full profile: `HGHT`, 10 f32 quantities with
    * ~10% nodata and ~10% undetect cells, the 0/1 `gap` flag and 4 integer
    * counts (16 quantities x [[FullLevels]] levels), under the what/where/how
    * attributes of a vol2bird file. The site attributes are a pure function
    * of `radar`, the cells of (radar, time, variant); `how/vcp` is `vcp`
    * (a Long, or a String such as "NULL").
    */
  private def fullTree(radar: String, date: String, time: String, variant: Int,
      obj: String, vcp: Any): WGroup = {
    val site = new java.util.SplittableRandom(radar.hashCode.toLong)
    val rnd = new java.util.SplittableRandom(
      radar.hashCode.toLong * 31 ^ (date + time).hashCode.toLong * 17 ^ variant)
    val floats = FloatQuantities.map { case (name, lo, hi) =>
      quantity(name, Array.fill(FullLevels) {
        val x = rnd.nextDouble()
        if (x < 0.1) NoData else if (x < 0.2) Undetect
        else (lo + rnd.nextDouble() * (hi - lo)).toFloat.toDouble
      }, isInt = false)
    }
    val gap = quantity("gap", Array.fill(FullLevels)(rnd.nextInt(2).toDouble), isInt = true)
    val counts = CountQuantities.map(name =>
      quantity(name, Array.fill(FullLevels)(rnd.nextInt(6000).toDouble), isInt = true))
    val heights = quantity("HGHT",
      Array.tabulate(FullLevels)(i => (i * LevelStep).toDouble), isInt = false)
    val quantities = Seq(heights) ++ floats ++ Seq(gap) ++ counts
    WGroup(Seq("Conventions" -> "ODIM_H5/V2_2"), Seq(
      "what" -> WGroup(Seq("date" -> date, "object" -> obj,
        "source" -> s"WMO:0${6000 + site.nextInt(4000)},RAD:${radar.take(2).toUpperCase}42,NOD:$radar",
        "time" -> time, "version" -> "H5rad 2.2"), Nil),
      "where" -> WGroup(Seq("height" -> (50 + site.nextInt(900)).toDouble,
        "interval" -> LevelStep.toDouble, "lat" -> (45.0 + site.nextDouble() * 20.0),
        "levels" -> FullLevels.toLong, "lon" -> (-5.0 + site.nextDouble() * 30.0),
        "maxheight" -> (FullLevels * LevelStep).toDouble, "minheight" -> 0.0), Nil),
      "how" -> WGroup(Seq("beamwidth" -> 1.0, "enddate" -> date, "endtime" -> time,
        "rcs_bird" -> 11.0, "sd_vvp_thresh" -> 2.0, "software" -> "vol2bird",
        "startdate" -> date, "starttime" -> time, "task" -> "vol2bird",
        "task_args" -> "azimMax=360.000000,azimMin=0.000000,layerThickness=200.000000",
        "vcp" -> vcp, "wavelength" -> 5.3), Nil),
      "dataset1" -> WGroup(Nil,
        quantities.zipWithIndex.map { case (q, i) => s"data${i + 1}" -> q } :+
          ("what" -> WGroup(Seq("product" -> "VP"), Nil)))))
  }

  /** The ODIM HDF5 bytes of one full VP file. */
  def fullVpBytes(radar: String, date: String, time: String, variant: Int,
      vcp: Any = 0L): Array[Byte] =
    MiniHdf5Writer.write(fullTree(radar, date, time, variant, "VP", vcp))

  /** A valid ODIM file whose `what/object` is `PVOL`: the VP gate rejects it. */
  def pvolBytes(radar: String, date: String, time: String): Array[Byte] =
    MiniHdf5Writer.write(fullTree(radar, date, time, 0, "PVOL", 0L))

  /** One full VP file of a generated lake, at `dir` (relative, may be empty). */
  final case class VpFile(dir: String, radar: String, date: String, time: String,
      variant: Int, vcp: Any = 0L)

  /** The layout of vptstools' `tests/data/vp`: five bejab profiles of one
    * evening under `bejab/yyyy/mm/dd` and one bewid profile.
    */
  val ReferenceVpLayout: Seq[VpFile] =
    Seq("233000", "234000", "234500", "235000", "235500")
      .map(t => VpFile("bejab/2022/11/11", "bejab", "20221111", t, 0)) :+
      VpFile("bewid", "bewid", "20221113", "023500", 1)

  /** `n` (at most 9) nosta profiles of 2023-03-11 at a 5-minute cadence from
    * 23:15, flat in one directory, like vptstools' `tests/data/inventory/vp`.
    */
  def nostaDay(n: Int): Seq[VpFile] =
    (0 until n).map(i => VpFile("", "nosta", "20230311", f"23${15 + 5 * i}%02d00", 1))

  /** A new temporary directory holding `files` as full VP files. */
  def fullLake(files: Seq[VpFile]): Path = {
    val root = Files.createTempDirectory("vp")
    files.foreach { v =>
      val f = root.resolve(v.dir).resolve(fileName(v.radar, v.date, v.time, v.variant))
      Files.createDirectories(f.getParent)
      Files.write(f, fullVpBytes(v.radar, v.date, v.time, v.variant, v.vcp))
    }
    root
  }
}
