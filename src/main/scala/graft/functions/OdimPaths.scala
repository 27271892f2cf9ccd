package graft.functions

import graft.plans.OdimKeyExpr
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level ODIM file-path algebra: the Spark re-expression of the
  * reference's `OdimFilePath` (path parse + derived S3 keys), cf.
  * vptstools `src/vptstools/s3.py:74-153`. The name parts are fields
  * of one codegen'd [[OdimKeyExpr]] parse — no UDFs, and a projection of
  * several parts of one key parses it once — so parsing an inventory of
  * 10^9 keys is a narrow scan-speed projection.
  */
object OdimPaths {

  /** Reference file-name regex (s3.py:100-109): radar(5) _ type _ yyyymmdd
    * [T] hhmm ... .h5. [[OdimKeyExpr]] implements its `regexp_extract`
    * semantics; the DuckDB oracles of `VptsOps` use it as written.
    */
  val FileNameRegex: String =
    ".*([a-zA-Z]{5})_([a-z]*)_(\\d{4})(\\d\\d)(\\d\\d)T?(\\d\\d)(\\d\\d).*\\.h5"

  private def part(file: Column, name: String): Column = OdimKeyExpr.odimKey(file).getField(name)

  /** Lower-cased, like the reference's `radar_code`. */
  def radarCode(file: Column): Column = part(file, "radar")
  def dataType(file: Column): Column = part(file, "data_type")
  def year(file: Column): Column = part(file, "yyyy")
  def month(file: Column): Column = part(file, "mm")
  def day(file: Column): Column = part(file, "dd")
  def hour(file: Column): Column = part(file, "hour")
  def minute(file: Column): Column = part(file, "minute")

  /** Country = first 2 chars of the radar code (s3.py:111-113). */
  def country(file: Column): Column = substring(radarCode(file), 1, 2)

  /** Daily VPTS key: {source}/daily/{radar}/{year}/{radar}_vpts_{yyyymmdd}.csv
    * (s3.py:121-137).
    */
  def dailyVptsKey(source: Column, file: Column): Column =
    concat_ws("/", source, lit("daily"), radarCode(file), year(file),
      concat(radarCode(file), lit("_vpts_"), year(file), month(file), day(file), lit(".csv")))

  /** Monthly key: {source}/monthly/{radar}/{year}/{radar}_vpts_{yyyymm}.csv.gz
    * (s3.py:139-153).
    */
  def monthlyVptsKey(source: Column, file: Column): Column =
    concat_ws("/", source, lit("monthly"), radarCode(file), year(file),
      concat(radarCode(file), lit("_vpts_"), year(file), month(file), lit(".csv.gz")))

  /** Hive-ish storage prefix {source}/hdf5/{radar}/{yyyy}/{mm}/{dd}
    * (s3.py:126-130) — the partition-pruned lake layout.
    */
  def h5DayPrefix(source: Column, file: Column): Column =
    concat_ws("/", source, lit("hdf5"), radarCode(file), year(file), month(file), day(file))
}
