package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-path materialization of VPTS data: Hive-partitioned parquet
  * `radar=/year=/month=/day=` with dynamic partition overwrite — the layout
  * SURVEY.md §4 calls for so that day-granularity incremental rebuilds
  * overwrite exactly the affected partitions and downstream queries get
  * partition pruning for free.
  *
  * The CSV sinks (CsvSink) remain the exchange-format contract; this is the
  * analytics-store path a 100 TB deployment queries.
  */
object VptsLakeWriter {

  /** Write a canonical VPTS DataFrame partitioned by radar/day. */
  def writePartitioned(df: DataFrame, root: String): Unit = {
    df
      .withColumn("p_radar", col("radar"))
      .withColumn("p_year", substring(col("datetime"), 1, 4))
      .withColumn("p_month", substring(col("datetime"), 6, 2))
      .withColumn("p_day", substring(col("datetime"), 9, 2))
      // one file per (radar, day): repartition on the partition columns so a
      // day's rows land in one task's write, keeping file counts bounded
      .repartition(col("p_radar"), col("p_year"), col("p_month"), col("p_day"))
      .sortWithinPartitions(graft.vpts.Vpts.canonicalOrder: _*)
      .write
      .mode(SaveMode.Overwrite)
      // per write, so the session's other overwrites stay static
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_radar", "p_year", "p_month", "p_day")
      .parquet(root)
  }

  /** Partition-pruned read back (radar/day predicates prune directories). */
  def read(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    spark.read.parquet(root)
}
