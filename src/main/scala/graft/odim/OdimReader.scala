package graft.odim

/** ODIM semantics over [[Hdf5File]]: the Spark-side equivalent of the
  * reference's `ODIMReader` (`odimh5.py:16-138`) plus the VP gate
  * (`check_vp_odim`, `odimh5.py:141-151`).
  */
final class InvalidSourceOdim(msg: String) extends RuntimeException(msg)

final class OdimReader(val h5: Hdf5File, val fileName: String) {

  private def groupAttrs(name: String): Option[Map[String, Any]] =
    h5.rootChildren.get(name).map(h5.attributes)

  lazy val what: Map[String, Any] = groupAttrs("what").getOrElse(Map.empty)
  lazy val where: Map[String, Any] = groupAttrs("where").getOrElse(Map.empty)
  lazy val how: Map[String, Any] = groupAttrs("how").getOrElse(Map.empty)

  def hasRequiredGroups: Boolean =
    Seq("what", "where", "how").forall(h5.rootChildren.contains)

  /** "20221111" + "233000" -> ("2022-11-11T23:30:00Z") parts; UTC by spec
    * (odimh5.py:89-93).
    */
  lazy val dateTimeIso: String = {
    val d = what("date").toString
    val t = what("time").toString
    s"${d.substring(0, 4)}-${d.substring(4, 6)}-${d.substring(6, 8)}" +
      s"T${t.substring(0, 2)}:${t.substring(2, 4)}:${t.substring(4, 6)}Z"
  }

  /** Parse `what.source` "WMO:06410,RAD:BE42,NOD:bejab,..." into a map
    * (odimh5.py:104-116).
    */
  lazy val sourceIdentifiers: Map[String, String] =
    what.get("source").map(_.toString.split(",").toSeq
      .filter(_.contains(":"))
      .map { kv => val Array(k, v) = kv.split(":", 2); k -> v }
      .toMap).getOrElse(Map.empty)
}

object OdimReader {

  def apply(bytes: Array[Byte], fileName: String): OdimReader =
    new OdimReader(new Hdf5File(bytes), fileName)

  /** VP gate: ODIM groups present and `what.object == "VP"`
    * (odimh5.py:141-151).
    */
  def checkVpOdim(r: OdimReader): OdimReader = {
    if (!r.hasRequiredGroups)
      throw new InvalidSourceOdim(
        s"${r.fileName}: No hdf5 ODIM format: what/where/how groups missing")
    if (r.what.get("object").map(_.toString).getOrElse("") != "VP")
      throw new InvalidSourceOdim(
        s"${r.fileName}: Incorrect ODIM format object: not a VP (vertical profile)")
    r
  }
}
