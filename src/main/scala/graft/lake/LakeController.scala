package graft.lake

import graft.vpts.Vpts
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Incremental lake rebuild controller — the Spark-first equivalent of the
  * `vph5_to_vpts` CLI (`vph5_to_vpts.py:59-251`): inventory -> coverage +
  * days-to-rebuild -> per-day daily VPTS rebuild -> per-month concat.
  *
  * The inventory is read in one scan. Each monthly file is multi-member
  * gzip (RFC 1952 §2.2), one member per daily file, compressed in
  * parallel; `gzip -t`, `zcat`, Python's `gzip` and `pandas.read_csv` read
  * every row of such a file.
  *
  * Recompute granularity is the whole radar-day (the reference's
  * day-granularity late-data handling): any modified file re-derives its day
  * and month. Each day is an independent Spark job over ~100 small h5 files;
  * failures warn-and-continue (X3). At fleet scale the days loop can run
  * jobs concurrently — each rebuild touches disjoint input/output paths.
  */
object LakeController {

  final case class DayKey(source: String, radar: String, yyyy: String, mm: String, dd: String) {
    def h5Folder(bucket: String) = s"$bucket/$source/hdf5/$radar/$yyyy/$mm/$dd"
    def dailyCsvPath(bucket: String) =
      s"$bucket/$source/daily/$radar/$yyyy/${radar}_vpts_$yyyy$mm$dd.csv"
  }

  final case class MonthKey(source: String, radar: String, yyyy: String, mm: String) {
    def dailyFolder(bucket: String) = s"$bucket/$source/daily/$radar/$yyyy"
    def monthlyCsvPath(bucket: String) =
      s"$bucket/$source/monthly/$radar/$yyyy/${radar}_vpts_$yyyy$mm.csv.gz"
  }

  def dayKeys(days: DataFrame): Seq[DayKey] =
    days.select("source", "radar", "yyyy", "mm", "dd").collect().toSeq.map {
      case Row(s: String, r: String, y: String, m: String, d: String) => DayKey(s, r, y, m, d)
    }

  def monthKeys(days: Seq[DayKey]): Seq[MonthKey] =
    days.map(d => MonthKey(d.source, d.radar, d.yyyy, d.mm)).distinct

  /** Rebuild one radar-day: scan its h5 folder, convert, write the single
    * sorted daily CSV (`vph5_to_vpts.py:159-202` minus the download hop —
    * Spark reads the lake directly).
    */
  def rebuildDay(spark: SparkSession, bucket: String, day: DayKey): Unit = {
    val df = Vpts.vpts(spark, Seq(day.h5Folder(bucket)))
    CsvSink.writeSingleCsv(df, day.dailyCsvPath(bucket))
  }

  /** Rebuild one radar-month: concat its daily CSVs (sorted, month-filtered
    * file list) into the gzipped monthly file (`vph5_to_vpts.py:214-248`).
    * The month is matched in the file NAME, as the reference filters keys
    * (F5): a bucket path holding the digits must not select every day.
    * The file is multi-member gzip, one member per daily file
    * ([[CsvSink.concatCsvFiles]]).
    */
  def rebuildMonth(spark: SparkSession, bucket: String, month: MonthKey): Unit = {
    val filesystem = CsvSink.fs(spark, month.dailyFolder(bucket))
    val folder = new HPath(month.dailyFolder(bucket))
    val files =
      if (filesystem.exists(folder))
        filesystem.listStatus(folder).toSeq.map(_.getPath)
          .filter(_.getName.contains(s"${month.yyyy}${month.mm}"))
          .map(_.toString).sorted
      else Seq.empty
    if (files.nonEmpty)
      CsvSink.concatCsvFiles(spark, files, month.monthlyCsvPath(bucket), gzip = true)
  }

  /** Full incremental run from an inventory file (manifest path of the CLI).
    * The inventory is scanned once ([[Inventory.dayCounts]]); coverage.csv
    * and the days to rebuild are cut from its collected radar-day rows on
    * the driver. Returns (n_days_rebuilt, n_months_rebuilt).
    */
  def run(spark: SparkSession, bucket: String, inventoryPath: String,
      modifiedDaysAgo: Int, now: java.time.Instant,
      coverageOut: Option[String] = None): (Int, Int) = {
    val counts = Inventory.collectDayCounts(Inventory.read(spark, inventoryPath),
      Inventory.cutoff(modifiedDaysAgo, now))
    coverageOut.foreach(p => CsvSink.writeCsv(spark, p, Inventory.CoverageColumns,
      Inventory.coverageRows(counts).map { case (dir, n) => Seq(dir, n.toString) }))
    rebuild(spark, bucket,
      Inventory.modifiedDays(counts).map(d => DayKey(d.source, d.radar, d.yyyy, d.mm, d.dd)))
  }

  /** Rebuild `days`, then their months; a failed day or month is logged and
    * skipped (X3). Returns (n_days_rebuilt, n_months_rebuilt).
    */
  def rebuild(spark: SparkSession, bucket: String, days: Seq[DayKey]): (Int, Int) = {
    val okDays = days.count { d =>
      try { rebuildDay(spark, bucket, d); true }
      catch { case e: Exception =>
        System.err.println(s"[lake] WARNING day ${d.h5Folder(bucket)}: ${e.getMessage}")
        false
      }
    }
    val okMonths = monthKeys(days).count { m =>
      try { rebuildMonth(spark, bucket, m); true }
      catch { case e: Exception =>
        System.err.println(s"[lake] WARNING month ${m.monthlyCsvPath(bucket)}: ${e.getMessage}")
        false
      }
    }
    (okDays, okMonths)
  }
}
