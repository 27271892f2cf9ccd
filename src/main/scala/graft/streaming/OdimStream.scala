package graft.streaming

import graft.plans.OdimKeyExpr
import graft.vpts.Vpts
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming ODIM ingestion: the Structured Streaming twin of `Vpts.vpts`.
  * New h5 files landing in the lake become micro-batches (file stream over
  * binaryFile); each batch decodes to VPTS rows. With Trigger.AvailableNow
  * this is exactly the reference's incremental-batch model — a cron run
  * drains whatever arrived — but with checkpointed exactly-once bookkeeping
  * instead of the modified-window heuristic.
  */
object OdimStream {

  /** Streaming DataFrame of VPTS v1 rows from a lake prefix. */
  def vptsStream(spark: SparkSession, dir: String,
      version: String = "v1.0", failFast: Boolean = false): DataFrame = {
    import spark.implicits._
    val binarySchema = StructType(Seq(StructField("path", StringType),
      StructField("modificationTime", TimestampType), StructField("length", LongType),
      StructField("content", BinaryType)))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.h5")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    Vpts.binaryFileRows(files, version, failFast)
  }

  /** Streaming lake materialization with WHOLE-DAY rebuild semantics
    * (SURVEY.md §2.8): the micro-batch only identifies which (radar, day)
    * partitions changed; each affected day is then re-derived from ALL of
    * that day's files under the input prefix before the dynamic partition
    * overwrite. A late file for an already-materialized day therefore merges
    * with the previously ingested files instead of replacing the day with
    * the batch alone — matching the reference, which re-lists and re-converts
    * the full day folder on any change (vph5_to_vpts.py:159-202).
    */
  /** `afterRebuild` is a test seam invoked with the batch id AFTER the day
    * rebuild but BEFORE the checkpoint commits — throwing from it simulates
    * a crash at the worst possible point (effect applied, progress not
    * recorded). Exactly-once then rests on the rebuild being IDEMPOTENT:
    * the replayed batch re-lists the prefix and dynamic-partition-overwrites
    * whole days, so re-applying it converges to the same lake state
    * (StreamingSpec injects exactly this failure and proves counts match).
    */
  def writeToLake(spark: SparkSession, inDir: String, lakeDir: String,
      checkpoint: String, afterRebuild: Long => Unit = _ => ()): Unit = {
    val q = vptsStream(spark, inDir).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) rebuildAffectedDays(batch.toDF(), inDir, lakeDir)
        afterRebuild(batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def rebuildAffectedDays(batch: DataFrame, inDir: String,
      lakeDir: String): Unit = {
    val spark = batch.sparkSession
    // control-plane: distinct (radar, yyyymmdd) keys of the batch (small)
    val days = batch
      .select(col("radar"), concat(substring(col("datetime"), 1, 4),
        substring(col("datetime"), 6, 2), substring(col("datetime"), 9, 2)).as("ymd"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // re-list the input prefix and keep every file of an affected day —
    // including files already processed in earlier batches; a file's day is
    // the one its name gives, read by the inventory's rule
    val files = GraftSqlBridge.listFilesRecursive(spark, Seq(inDir)).map(_._1).filter { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      val k = OdimKeyExpr.parse(UTF8String.fromString(name))
      name.endsWith(".h5") &&
        days.contains((k.getString(2), s"${k.getString(4)}${k.getString(5)}${k.getString(6)}"))
    }
    // unsorted scan: the writer sorts each day partition by the canonical key
    if (files.nonEmpty)
      graft.lake.VptsLakeWriter.writePartitioned(
        spark.read.format("odim").option("failFast", "false").load(files: _*), lakeDir)
  }

  /** Drain all currently-available files into an in-memory table (test/cron
    * helper).
    */
  def drainAvailable(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = vptsStream(spark, dir).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
