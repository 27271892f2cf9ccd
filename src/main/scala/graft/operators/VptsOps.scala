package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.OdimPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own inventory/path pipeline (SURVEY.md §2: P8-P13, A1, A5,
  * F1) exercised on synthetic data: ODIM file names are synthesized from the
  * events table, then parsed and aggregated with the same column functions
  * the lake controller uses (graft.functions.OdimPaths).
  */
object VptsOps {

  private val radars = Seq("bejab", "bewid", "nosta", "fiuta", "plpoz")

  /** Synthesized inventory: one ODIM h5 key per event. */
  private def inventory(s: SparkSession, dir: String): DataFrame = {
    val radar = element_at(
      array(radars.map(lit): _*), (col("user_id") % radars.size).cast("int") + 1)
    Tables.events(s, dir).select(
      col("event_id"),
      lit("baltrad").as("source"),
      concat(radar, lit("_vp_"), date_format(col("ts"), "yyyyMMdd"), lit("T"),
        date_format(col("ts"), "HHmm"), lit("Z_0x9.h5")).as("file"))
  }

  // Single line: this fragment is interpolated into stripMargin strings, so
  // it must not start a line with '|'.
  private val inventorySql: String =
    "SELECT event_id, 'baltrad' AS source, " +
      "(['bejab','bewid','nosta','fiuta','plpoz'])[CAST(user_id % 5 AS INTEGER) + 1] " +
      "|| '_vp_' || strftime(ts, '%Y%m%d') || 'T' || strftime(ts, '%H%M') || 'Z_0x9.h5' AS file " +
      "FROM events"

  // The Scala literal already holds single-backslash escapes (\d); DuckDB's
  // single-quoted strings pass them to RE2 unchanged.
  private val fileRegexSql = OdimPaths.FileNameRegex

  /** P8 parse + P9 path algebra: every derived field of OdimFilePath. */
  def qOdimPathParse(s: SparkSession, dir: String): DataFrame = {
    val inv = inventory(s, dir)
    inv.select(
        col("event_id"),
        col("file"),
        OdimPaths.radarCode(col("file")).as("radar"),
        OdimPaths.dataType(col("file")).as("data_type"),
        OdimPaths.country(col("file")).as("country"),
        OdimPaths.year(col("file")).as("yyyy"),
        OdimPaths.month(col("file")).as("mm"),
        OdimPaths.day(col("file")).as("dd"),
        OdimPaths.dailyVptsKey(col("source"), col("file")).as("daily_key"),
        OdimPaths.monthlyVptsKey(col("source"), col("file")).as("monthly_key"))
      .orderBy(col("event_id"))
  }

  val qOdimPathParseSql: String = {
    val re = fileRegexSql
    s"""WITH inv AS ($inventorySql)
       |SELECT event_id, file,
       |  lower(regexp_extract(file, '$re', 1)) AS radar,
       |  regexp_extract(file, '$re', 2) AS data_type,
       |  substring(lower(regexp_extract(file, '$re', 1)), 1, 2) AS country,
       |  regexp_extract(file, '$re', 3) AS yyyy,
       |  regexp_extract(file, '$re', 4) AS mm,
       |  regexp_extract(file, '$re', 5) AS dd,
       |  'baltrad/daily/' || lower(regexp_extract(file, '$re', 1)) || '/' ||
       |    regexp_extract(file, '$re', 3) || '/' || lower(regexp_extract(file, '$re', 1)) ||
       |    '_vpts_' || regexp_extract(file, '$re', 3) || regexp_extract(file, '$re', 4) ||
       |    regexp_extract(file, '$re', 5) || '.csv' AS daily_key,
       |  'baltrad/monthly/' || lower(regexp_extract(file, '$re', 1)) || '/' ||
       |    regexp_extract(file, '$re', 3) || '/' || lower(regexp_extract(file, '$re', 1)) ||
       |    '_vpts_' || regexp_extract(file, '$re', 3) || regexp_extract(file, '$re', 4) ||
       |    '.csv.gz' AS monthly_key
       |FROM inv
       |ORDER BY event_id""".stripMargin
  }

  /** A1/A5 coverage: file counts per radar-day prefix (the coverage.csv
    * aggregation, s3.py:243-260).
    */
  def qOdimCoverage(s: SparkSession, dir: String): DataFrame = {
    val inv = inventory(s, dir)
    inv.filter(col("file").endsWith(".h5"))
      .groupBy(OdimPaths.h5DayPrefix(col("source"), col("file")).as("directory"))
      .agg(count(lit(1)).as("file_count"))
      .orderBy(col("directory"))
  }

  val qOdimCoverageSql: String = {
    val re = fileRegexSql
    s"""WITH inv AS ($inventorySql)
       |SELECT 'baltrad/hdf5/' || lower(regexp_extract(file, '$re', 1)) || '/' ||
       |    regexp_extract(file, '$re', 3) || '/' || regexp_extract(file, '$re', 4) ||
       |    '/' || regexp_extract(file, '$re', 5) AS directory,
       |  count(*) AS file_count
       |FROM inv
       |WHERE file LIKE '%.h5'
       |GROUP BY 1
       |ORDER BY directory""".stripMargin
  }

  /** ODIM HDF5 ingest throughput — the reference's actual core workload
    * (many ~25 KB .h5 files decoded to profile rows,
    * vph5_to_vpts.py's whole job). Benched through the DSv2 `odim`
    * format so the number covers listing, bin-packed file partitions and
    * the pure-JVM HDF5 decode. The corpus is STAGED ONCE per machine
    * (2000 copies of the 5 reference VP fixtures into /tmp, a driver-side
    * control-plane copy, ~50 MB) and reused by every timed run; the query
    * itself never writes. Ignores sfDir by design — the input regime is
    * file-count-bound, not row-scale-bound; the rows-only correctness
    * check still pins row count and schema at every scale.
    */
  private lazy val ingestCorpus: String = stagedCorpus(400)

  /** The reference VP fixtures [[stagedCorpus]] copies: vptstools'
    * `tests/data/vp` bejab day (5 files).
    */
  val OdimIngestFixtureDir: java.nio.file.Path =
    java.nio.file.Paths.get("/root/reference/tests/data/vp/bejab/2022/11/11")

  /** Stage `copies` x the 5 reference VP fixtures into /tmp (atomic-rename
    * protocol, [[Staging.stagedDir]] — a half-staged corpus is never
    * observable, concurrent first runs are safe, and the fixture listing
    * stream is closed).
    */
  private def stagedCorpus(copies: Int): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Staging.stagedDir(Paths.get(s"/tmp/graft_odim_ingest_corpus_$copies")) { tmp =>
      val listing = Files.list(OdimIngestFixtureDir)
      val srcFiles =
        try listing.sorted.toArray.map(_.asInstanceOf[java.nio.file.Path])
        finally listing.close()
      (0 until copies).foreach { c =>
        val day = tmp.resolve(f"bejab/2022/11/${11 + c % 20}%02d")
        Files.createDirectories(day)
        srcFiles.foreach { f =>
          Files.copy(f, day.resolve(s"c${c}_${f.getFileName}"),
            StandardCopyOption.REPLACE_EXISTING): Unit
        }
      }
    }
  }

  /** The benched per-file aggregate, shared by both decode paths. */
  private def ingestAgg(df: DataFrame): DataFrame =
    df.groupBy(col("source_file"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("height").cast("long")).as("height_sum"))

  /** Self-consistency oracle for the ingest entry: DuckDB cannot read HDF5,
    * so the "oracle" is the same aggregate computed through the INDEPENDENT
    * binaryFile+mapPartitions decode path ([[graft.vpts.Vpts.vptsViaBinaryFile]])
    * written to /tmp parquet, which the oracle SQL reads back — the driver's
    * hash compare then checks the DSv2 listing / pruning / bin-packed decode
    * end-to-end against the fallback path. Written once per JVM (never from
    * a possibly-stale previous build): Verify stages it fresh each run;
    * Bench stages it during the untimed warmup pass.
    */
  // Pid-keyed: a concurrent sbt-test JVM must not clobber a Verify run's
  // staging between its oracle dump and the DuckDB compare.
  private val SelfCheckDir = Staging.pidScratchDir("graft_odim_selfcheck")
  @volatile private var selfCheckStaged = false
  private def stageSelfCheck(s: SparkSession, corpus: String): Unit =
    if (!selfCheckStaged) synchronized {
      if (!selfCheckStaged) {
        ingestAgg(graft.vpts.Vpts.vptsViaBinaryFile(s, Seq(corpus)))
          .coalesce(1).write.mode("overwrite").parquet(SelfCheckDir)
        selfCheckStaged = true
      }
    }

  val qOdimIngestSql: String =
    s"SELECT source_file, n_rows, height_sum FROM '$SelfCheckDir/*.parquet' " +
      "ORDER BY source_file"

  def qOdimIngest(s: SparkSession, dir: String): DataFrame = {
    val corpus = ingestCorpus
    stageSelfCheck(s, corpus)
    ingestAgg(s.read.format("odim").load(corpus))
      .orderBy(col("source_file"))
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_odim_path_parse", qOdimPathParse, Some(qOdimPathParseSql)),
    QueryDef("q_odim_coverage", qOdimCoverage, Some(qOdimCoverageSql)),
    QueryDef("q_odim_ingest", qOdimIngest, Some(qOdimIngestSql), bench = true),
  )
}
