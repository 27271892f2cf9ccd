package graft.vpts

import graft.odim.MiniHdf5Writer
import graft.odim.MiniHdf5Writer.{WDataset, WGroup}
import java.nio.file.{Files, Path}

/** Small generated ODIM VP lakes for specs that need valid files but no
  * reference fixtures. Each file holds `Levels` altitude levels (0..1000 m,
  * so the string and integer orders of `height` differ) of a float quantity
  * (u, with nodata and undetect cells), an integer one (n) and the 0/1 gap
  * flag, with the what/where/how attributes the VPTS rows read.
  * Values are a pure function of (seed, radar, time, variant).
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
}
