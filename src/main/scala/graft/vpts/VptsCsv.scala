package graft.vpts

import PyFormat._
import scala.collection.immutable.ArraySeq

/** Versioned VPTS-CSV output ruleset: the Spark-side equivalent of
  * `AbstractVptsCsv` + `VptsCsvV1` (+ registry `get_vpts_version`),
  * `vpts_csv.py:142-295`. A version defines the sentinels, the ordered
  * column mapping, and the canonical sort; everything is rendered to strings
  * with pandas/python parity.
  */
trait VptsCsvVersion extends Serializable {
  def version: String
  def nodata: String
  def undetect: String
  /** Ordered column names (order IS the output spec). */
  def columns: Seq[String]
  /** One profile -> one string row per altitude level, each row indexed
    * in [[columns]] order.
    */
  def rows(p: BirdProfile): IndexedSeq[ArraySeq[String]]
}

final class VptsCsvVersionError(msg: String) extends RuntimeException(msg)

object VptsCsvVersion {
  /** Registry (`get_vpts_version`, vpts_csv.py:142-161). */
  def apply(version: String): VptsCsvVersion = version match {
    case "v1.0" | "v1" => VptsCsvV1
    case other => throw new VptsCsvVersionError(s"unsupported VPTS CSV version $other")
  }
}

/** VPTS CSV v1.0 (`VptsCsvV1`, vpts_csv.py:240-295). */
object VptsCsvV1 extends VptsCsvVersion {

  val version = "v1.0"
  val nodata = ""
  val undetect = "NaN"

  /** source_file guard regex (vpts_csv.py:241): no leading `/ . ~`, no `..`. */
  val SourceFileRegex = "^(?=^[^.\\/~])(^((?!\\.{2}).)*$).*$".r

  val columns: Seq[String] = Seq(
    "radar", "datetime", "height", "u", "v", "w", "ff", "dd", "sd_vvp", "gap",
    "eta", "dens", "dbz", "dbz_all", "n", "n_dbz", "n_all", "n_dbz_all",
    "rcs", "sd_vvp_threshold", "vcp", "radar_latitude", "radar_longitude",
    "radar_height", "radar_wavelength", "source_file")

  /** Variable (ODIM quantity) behind each per-level column. */
  private val varCols = Seq(
    "u" -> "u", "v" -> "v", "w" -> "w", "ff" -> "ff", "dd" -> "dd",
    "sd_vvp" -> "sd_vvp", "gap" -> "gap", "eta" -> "eta", "dens" -> "dens",
    "dbz" -> "dbz", "dbz_all" -> "DBZH", "n" -> "n", "n_dbz" -> "n_dbz",
    "n_all" -> "n_all", "n_dbz_all" -> "n_dbz_all")

  private def renderCell(c: VpCell): String = VpCell.render(c, nodata, undetect)

  /** gap: 1 -> TRUE, 0 -> FALSE (number_to_bool_str, vpts_csv.py:76-94);
    * sentinels render as sentinels (the reference would KeyError here —
    * lenient by design).
    */
  private def renderBool(c: VpCell): String = c match {
    case VpCell.I(1) | VpCell.F(1.0) => "TRUE"
    case VpCell.I(0) | VpCell.F(0.0) => "FALSE"
    case other => renderCell(other)
  }

  /** vcp: str value in {"0","NULL"} -> nodata else int (int_to_nodata,
    * vpts_csv.py:40-73 applied at :287).
    */
  private def renderVcp(how: Map[String, Any]): String = {
    val s = how.get("vcp").map {
      case l: Long => l.toString
      case d: Double => pyFloat(d)
      case o => o.toString
    }.getOrElse("NULL")
    if (s == "0" || s == "NULL") nodata else s.toLong.toString
  }

  private def attrNum(m: Map[String, Any], k: String): Double = m(k) match {
    case d: Double => d
    case l: Long => l.toDouble
    case o => o.toString.toDouble
  }

  def checkSourceFile(sf: String): String =
    if (SourceFileRegex.findFirstIn(sf).isDefined || sf.isEmpty) sf
    else throw new IllegalArgumentException(
      s"Incorrect source_file '$sf': must not start with '../', './' or '/'")

  def rows(p: BirdProfile): IndexedSeq[ArraySeq[String]] = {
    val radar = p.identifiers.getOrElse("NOD",
      sys.error(s"${p.sourceFile}: no NOD identifier in what.source"))
    val levels = p.levels.toIndexedSeq
    val n = levels.size
    val out = Array.fill(n)(new Array[String](columns.size))
    // filled column by column: each column's source is looked up once
    var col = 0
    def fill(cell: Int => String): Unit = {
      var i = 0
      while (i < n) { out(i)(col) = cell(i); i += 1 }
      col += 1
    }
    def const(s: String): Unit = fill(_ => s)
    const(radar)
    const(p.datetimeIso)
    fill(i => levels(i).toString)
    varCols.foreach { case (colName, q) =>
      val cells = p.variables.getOrElse(q, Seq.empty).toIndexedSeq
      val render: VpCell => String = if (colName == "gap") renderBool else renderCell
      fill(i => if (i < cells.size) render(cells(i)) else nodata)
    }
    const(pyFloat(attrNum(p.how, "rcs_bird")))
    const(pyFloat(attrNum(p.how, "sd_vvp_thresh")))
    const(renderVcp(p.how))
    const(pyFloat(roundHalfEven(attrNum(p.where, "lat"), 6)))
    const(pyFloat(roundHalfEven(attrNum(p.where, "lon"), 6)))
    const(attrNum(p.where, "height").toLong.toString)
    const(pyFloat(roundHalfEven(attrNum(p.how, "wavelength"), 6)))
    const(checkSourceFile(p.sourceFile))
    ArraySeq.unsafeWrapArray(out.map(ArraySeq.unsafeWrapArray(_)))
  }
}
