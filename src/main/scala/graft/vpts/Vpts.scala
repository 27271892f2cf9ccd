package graft.vpts

import graft.odim.OdimReader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The core VPTS transforms, Spark-first (`vpts.py:180-275`):
  *
  *   odim scan (ODIM decode -> per-level rows -> 26 string columns) ->
  *   canonical sort in one partition
  *
  * The reference's multiprocessing.Pool becomes Spark task parallelism over
  * the file scan; its pd.concat + sort becomes one shuffle into a single
  * partition, sorted there. Duplicate (radar, datetime, height) rows from
  * different source files are preserved by contract
  * (tests/test_vpts.py:84-91).
  *
  * Scale notes: ODIM files are ~25 KB (small-file regime) — the scan packs
  * many files per task; decode is executor-side and embarrassingly
  * parallel. The only consumer of a sorted conversion is one serial writer
  * (the single CSV of the VPTS exchange contract), so the sort runs in one
  * task and each file is read and decoded exactly once; a range-partitioned
  * total sort would decode every file a second time in its sampling job.
  */
object Vpts {

  val schemaV1: StructType =
    StructType(VptsCsvV1.columns.map(StructField(_, StringType, nullable = false)))

  /** Many ODIM VP files -> canonical VPTS DataFrame (reference `vpts()`).
    * Scans through the DSv2 `odim` source (parallel listing + small-file
    * bin-packing; ~2x the binaryFile path on many-file lakes), then applies
    * the canonical sort.
    */
  def vpts(spark: SparkSession, paths: Seq[String], version: String = "v1.0",
      failFast: Boolean = true): DataFrame = {
    val df = spark.read.format("odim")
      .option("version", version)
      .option("failFast", failFast.toString)
      .load(paths: _*)
    sortCanonical(df)
  }

  /** binaryFile + mapPartitions variant of [[vpts]] (kept for comparison and
    * as the no-custom-source fallback).
    */
  def vptsViaBinaryFile(spark: SparkSession, paths: Seq[String], version: String = "v1.0",
      failFast: Boolean = true): DataFrame = {
    val ruleset = VptsCsvVersion(version)
    import spark.implicits._
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.h5")
      .option("recursiveFileLookup", "true")
      .load(paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    val rows: Dataset[Seq[String]] = bin.mapPartitions { it =>
      it.flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        try {
          val reader = OdimReader.checkVpOdim(OdimReader(bytes, name))
          ruleset.rows(BirdProfile.fromOdim(reader, name))
        } catch {
          case e: Exception if !failFast =>
            System.err.println(s"[vpts] skipping $name: ${e.getMessage}")
            Seq.empty
        }
      }
    }
    val df = rows.select(
      ruleset.columns.zipWithIndex.map { case (c, i) =>
        element_at(col("value"), i + 1).as(c)
      }: _*)
    sortCanonical(df)
  }

  /** One file -> VP DataFrame (reference `vp()`). */
  def vp(spark: SparkSession, path: String, version: String = "v1.0"): DataFrame =
    vpts(spark, Seq(path), version)

  /** Canonical VPTS sort: radar (str), datetime (str), height (int),
    * source_file (str) (`vpts_csv.py:253-256`, applied `vpts.py:129-134`).
    * The input is shuffled into one partition and sorted there: no
    * range-partitioning sample job, and the scan runs once.
    */
  def sortCanonical(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(col("radar"), col("datetime"),
      col("height").cast("int"), col("source_file"))

  /** Single ordered CSV file sink (reference `vpts_to_csv`, vpts.py:278-294):
    * the VPTS exchange contract is ONE sorted CSV ([[graft.lake.CsvSink]]).
    */
  def vptsToCsv(df: DataFrame, filePath: String): Unit =
    graft.lake.CsvSink.writeSingleCsv(df, filePath)

  /** String-preserving VPTS CSV scan (reference S7, `vph5_to_vpts.py:
    * 230-240`): all 26 columns as raw strings, no NA inference — "" and
    * "NaN" sentinels survive the round-trip.
    */
  def readVptsCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(schemaV1)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(paths: _*)
      // univocity yields null for unquoted empty fields no matter the
      // options; the reference's keep_default_na=False semantics are ""
      .na.fill("")

  /** Frictionless resource-descriptor sink next to a VPTS CSV (reference
    * `_write_resource_descriptor`, vpts.py:320-343): same fields, 4-space
    * indent, sorted keys.
    */
  def writeResourceDescriptor(vptsCsvPath: String, schemaVersion: String = "v1.0"): Unit = {
    val p = java.nio.file.Paths.get(vptsCsvPath)
    val json =
      s"""{
         |    "dialect": {
         |        "delimiter": ","
         |    },
         |    "encoding": "utf8",
         |    "format": "csv",
         |    "mediatype": "text/csv",
         |    "name": "vpts",
         |    "path": "${p.getFileName}",
         |    "schema": "https://raw.githubusercontent.com/aloftdata/vpts-csv/$schemaVersion/vpts-csv-table-schema.json"
         |}""".stripMargin
    val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("vpts.resource.json"), json)
  }
}
