package graft.lake

import graft.functions.OdimPaths.FileNameRegex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-scan `Inventory.coverage` and `Inventory.daysToRebuild` that
  * [[Inventory.dayCounts]] replaced: derived columns from three `split`s
  * and one `regexp_extract` per name part, then one aggregate each. Kept as
  * the reference the differential spec compares against. Like the code it
  * replaced, it fails under ANSI mode on a key without `/`.
  */
object InventoryReference {

  def withDerived(inv: DataFrame): DataFrame = {
    val f = col("file")
    inv
      .withColumn("modified_ts",
        to_timestamp(col("modified"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
      .withColumn("suffix",
        element_at(split(element_at(split(f, "/"), -1), "\\."), -1))
      .withColumn("source", element_at(split(f, "/"), 1))
      .withColumn("file_type", element_at(split(f, "/"), 2))
      .withColumn("radar", lower(regexp_extract(f, FileNameRegex, 1)))
      .withColumn("yyyy", regexp_extract(f, FileNameRegex, 3))
      .withColumn("mm", regexp_extract(f, FileNameRegex, 4))
      .withColumn("dd", regexp_extract(f, FileNameRegex, 5))
  }

  def h5Only(inv: DataFrame): DataFrame = inv.filter(col("suffix") === "h5")

  def coverage(inv: DataFrame): DataFrame =
    h5Only(withDerived(inv))
      .groupBy(concat_ws("/", col("source"), col("file_type"), col("radar"),
        col("yyyy"), col("mm"), col("dd")).as("directory"))
      .agg(count(lit(1)).as("file_count"))
      .orderBy(col("directory"))

  def daysToRebuild(inv: DataFrame, modifiedDaysAgo: Int,
      now: java.time.Instant): DataFrame = {
    val derived = h5Only(withDerived(inv))
    val windowed =
      if (modifiedDaysAgo == 0) derived
      else {
        val cutoff = java.sql.Timestamp.from(
          now.minus(java.time.Duration.ofDays(modifiedDaysAgo)))
        derived.filter(col("modified_ts") > lit(cutoff))
      }
    windowed
      .groupBy(col("source"), col("file_type"), col("radar"),
        col("yyyy"), col("mm"), col("dd"))
      .agg(count(lit(1)).as("file_count"))
      .orderBy(col("source"), col("radar"), col("yyyy"), col("mm"), col("dd"))
  }
}
