package graft.cli

import graft.functions.OdimPaths
import graft.lake.{Inventory, LakeController}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI equivalent of the reference's `vph5_to_vpts` entry point
  * (`vph5_to_vpts.py:59-251`): incremental daily/monthly VPTS rebuild.
  *
  * Usage:
  *   vph5ToVpts --bucket PATH [--inventory CSV[.gz]]
  *              [--modified-days-ago N] [--coverage OUT.csv]
  *              [--path-folder PREFIX]
  *
  * Inventory mode rebuilds only radar-days with files modified in the
  * look-back window (0 = everything, "This will take a while!"); path-folder
  * mode globs a prefix and rebuilds every radar-day found (A5 grouping).
  */
object Vph5ToVpts {

  def main(args: Array[String]): Unit =
    Alerting.guarded("vph5_to_vpts", args.toSeq, "[vptstools] vph5_to_vpts failed") {
      // parse (and fail) BEFORE building a session, like click's
      // make_context; the session is created and stopped only here, so
      // tests can drive run() with a shared session
      val opts = parseOpts(args)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("vph5ToVpts")
        .config("spark.sql.shuffle.partitions",
          math.min(Runtime.getRuntime.availableProcessors(), 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try run(spark, opts) finally spark.stop()
    }

  private def parseOpts(args: Array[String]): Map[String, String] =
    CliOptions.parse(args.toSeq, Seq("--bucket", "--inventory", "--modified-days-ago",
      "--coverage", "--path-folder"), required = Seq("--bucket"))

  /** CLI body against a caller-owned session (testable e2e). */
  def run(spark: SparkSession, args: Array[String]): Unit =
    run(spark, parseOpts(args))

  private def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val bucket = opts("--bucket")
    val modifiedDaysAgo = opts.getOrElse("--modified-days-ago", "2").toInt

    opts.get("--path-folder") match {
      case Some(prefix) =>
        // glob mode: enumerate h5 files, group per radar-day, rebuild all
        val files = spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.h5").option("recursiveFileLookup", "true")
          .load(prefix).select(col("path"))
        val days = files.select(
            element_at(split(col("path"), "/"), -7).as("source"),
            OdimPaths.radarCode(col("path")).as("radar"),
            OdimPaths.year(col("path")).as("yyyy"),
            OdimPaths.month(col("path")).as("mm"),
            OdimPaths.day(col("path")).as("dd"))
          .groupBy("source", "radar", "yyyy", "mm", "dd").count()
        val keys = LakeController.dayKeys(days)
        println(s"Create ${keys.size} daily VPTS files.")
        LakeController.rebuild(spark, bucket, keys)
      case None =>
        val inventory = opts.getOrElse("--inventory", sys.error("--inventory or --path-folder required"))
        // 0 expands to the full bucket age (Inventory.cutoff)
        if (modifiedDaysAgo == 0)
          println("Recreate the full set of bucket files. This will take a while!")
        val (d, m) = LakeController.run(spark, bucket, inventory, modifiedDaysAgo,
          java.time.Instant.now(), opts.get("--coverage"))
        println(s"Created $d daily and $m monthly VPTS files.")
    }
    println("Finished VPTS update procedure.")
  }
}
