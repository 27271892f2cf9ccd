package graft.lake

import graft.plans.OdimKeyExpr
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.sql.Timestamp
import java.time.Instant

/** S3-inventory analytics (`s3.py:156-384`): inventory CSV scan, h5 filter,
  * coverage counts, and the modified-window incremental subset.
  *
  * One scan, like the reference's `handle_manifest` (`s3.py:306-384`),
  * which reads the inventory once for both coverage (A1) and the
  * modified-window days (A3): [[dayCounts]] aggregates every h5 key into
  * one row per radar-day with its file count and its count of files in the
  * window, and both outputs are cut from those rows on the driver.
  *
  * Scale: the inventory for a 100 TB lake is ~10^9 rows of small strings —
  * one schema'd gzip-CSV scan (Spark splits per file; the reference's 50k-row
  * chunking is partitioning for free), one native parse per key, and a
  * partial-agg'd groupBy whose result has one row per radar-day (~10^6 for
  * a decade of a few hundred radars).
  */
object Inventory {

  /** Headerless inventory chunk schema `repo,file,size,modified`
    * (s3.py:346-348).
    */
  val schema: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("file", StringType),
    StructField("size", LongType),
    StructField("modified", StringType)))

  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(schema).csv(paths: _*)

  /** S5 manifest scan (`list_manifest_file_keys`, s3.py:156-174): parse the
    * S3-inventory manifest JSON and yield the inventory chunk keys.
    */
  def manifestKeys(spark: SparkSession, manifestPath: String): Seq[String] =
    spark.read.option("multiLine", "true").json(manifestPath)
      .select(explode(col("files")).as("f"))
      .select(col("f.key"))
      .collect().map(_.getString(0)).toSeq

  /** Full manifest-driven read: manifest JSON -> chunk files -> inventory
    * frame (chunk keys are resolved against the manifest's directory, the
    * local-FS stand-in for the source bucket).
    */
  def readFromManifest(spark: SparkSession, manifestPath: String): DataFrame = {
    val base = manifestPath.substring(0, manifestPath.lastIndexOf('/'))
    val keys = manifestKeys(spark, manifestPath)
      .map(k => s"$base/${k.substring(k.lastIndexOf('/') + 1)}")
    read(spark, keys: _*)
  }

  /** `modified` column format of the inventory chunks. */
  private val ModifiedFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  private val DayParts = Seq("source", "file_type", "radar", "yyyy", "mm", "dd")

  /** Header of coverage.csv. */
  val CoverageColumns = Seq("directory", "file_count")

  /** One (source, file_type, radar, yyyy, mm, dd) group of h5 keys: all its
    * files, and those modified after the cutoff. `fileType` is null for a
    * key without `/`.
    */
  final case class DayCount(source: String, fileType: String, radar: String,
      yyyy: String, mm: String, dd: String, fileCount: Long, modifiedCount: Long) {
    /** The coverage.csv key: the non-null parts joined by `/` (`concat_ws`). */
    def directory: String =
      Seq(source, fileType, radar, yyyy, mm, dd).filter(_ != null).mkString("/")
  }

  /** The look-back cutoff of `--modified-days-ago`; `0` expands to the full
    * bucket age, "rebuild everything, this will take a while"
    * (`vph5_to_vpts.py:132-138`), so there is no cutoff.
    */
  def cutoff(modifiedDaysAgo: Int, now: Instant): Option[Instant] =
    if (modifiedDaysAgo == 0) None
    else Some(now.minus(java.time.Duration.ofDays(modifiedDaysAgo)))

  /** The single inventory scan: one row per radar-day group of h5 keys
    * (F1, s3.py:296), keyed by the FILE NAME date, not the folder
    * (`extract_daily_group_from_inventory`, s3.py:177-200), with
    * `file_count` and `modified_count` — the files whose `modified` is after
    * `cutoff` (`_last_modified_from_inventory`, s3.py:228-303), or all of
    * them when there is no cutoff. Every key is parsed once
    * ([[OdimKeyExpr]]). The h5 test (`split`'s last `/` part, then its last
    * `.` part, is `h5`) is a plain suffix filter, which Spark applies while
    * it parses the CSV; a filter on a parsed field would be pushed below the
    * projection and parse each key twice.
    */
  def dayCounts(inv: DataFrame, cutoff: Option[Instant]): DataFrame = {
    val f = col("file")
    val inWindow = cutoff.fold(lit(true))(c =>
      to_timestamp(col("modified"), ModifiedFormat) > lit(Timestamp.from(c)))
    inv.filter(f.endsWith(".h5") || f.endsWith("/h5") || f === "h5")
      .select(OdimKeyExpr.odimKey(f).as("k"), inWindow.as("in_window"))
      .groupBy(DayParts.map(n => col("k").getField(n).as(n)): _*)
      .agg(count(lit(1)).as("file_count"), count_if(col("in_window")).as("modified_count"))
  }

  /** [[dayCounts]], collected: about one row per radar-day. */
  def collectDayCounts(inv: DataFrame, cutoff: Option[Instant]): Seq[DayCount] =
    dayCounts(inv, cutoff).collect().toSeq.map { r =>
      DayCount(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getLong(6), r.getLong(7))
    }

  // Spark's string order (UTF-8 bytes), which Java's UTF-16 order is not
  private implicit val utf8Order: Ordering[UTF8String] = Ordering.fromLessThan(_.compareTo(_) < 0)
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** A1/A2 coverage.csv rows (directory, file_count), in directory order. */
  def coverageRows(counts: Seq[DayCount]): Seq[(String, Long)] =
    counts.groupMapReduce(_.directory)(_.fileCount)(_ + _).toSeq.sortBy(c => utf8(c._1))

  /** A3: the groups with a file modified after the cutoff, in (source,
    * radar, yyyy, mm, dd) order.
    */
  def modifiedDays(counts: Seq[DayCount]): Seq[DayCount] =
    counts.filter(_.modifiedCount > 0)
      .sortBy(d => (utf8(d.source), utf8(d.radar), utf8(d.yyyy), utf8(d.mm), utf8(d.dd)))

  /** [[coverageRows]] of one scan, as a local frame (directory, file_count);
    * output matches coverage.csv.
    */
  def coverage(inv: DataFrame): DataFrame = {
    import inv.sparkSession.implicits._
    coverageRows(collectDayCounts(inv, None)).toDF(CoverageColumns: _*)
  }

  /** [[modifiedDays]] of one scan, as a local frame (source, file_type,
    * radar, yyyy, mm, dd, file_count) whose `file_count` counts the files in
    * the window. `now` is injected for reproducibility (the reference
    * freezes pd.Timestamp.now in tests the same way).
    */
  def daysToRebuild(inv: DataFrame, modifiedDaysAgo: Int, now: Instant): DataFrame = {
    import inv.sparkSession.implicits._
    modifiedDays(collectDayCounts(inv, cutoff(modifiedDaysAgo, now)))
      .map(d => (d.source, d.fileType, d.radar, d.yyyy, d.mm, d.dd, d.modifiedCount))
      .toDF(DayParts :+ "file_count": _*)
  }
}
