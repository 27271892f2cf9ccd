package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's package-private Column<->Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils), needed to expose custom
  * Catalyst expressions through the public Column API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The SQL function builder of a typed aggregator, as
    * `spark.udf.register(name, udaf(agg, in))` builds it.
    */
  def aggregatorBuilder[IN, BUF, OUT](agg: expressions.Aggregator[IN, BUF, OUT],
      in: Encoder[IN]): Seq[Expression] => Expression = {
    val udaf = expressions.UserDefinedAggregator(agg, in)
    children => execution.aggregate.ScalaAggregator(udaf, children)
  }

  /** `RDD.unpersist(blocking = false)` without its per-RDD "was locally
    * checkpointed" WARN: the checkpoint lifecycle frees only dead frames.
    */
  def unpersistQuietly(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  def plan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.DataFrame].queryExecution.analyzed

  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fails the way a parquet load of a missing path does: `PATH_NOT_FOUND`
    * naming the qualified path.
    */
  def requireExistingPaths(spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualified = fs.makeQualified(hp)
      if (!fs.exists(qualified))
        throw errors.QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    }

  /** Recursive file listing through Spark's InMemoryFileIndex (parallelized,
    * and free of RawLocalFileSystem's per-file permission exec that makes
    * naive listFiles() pathological on many small files). No file-status
    * cache: each call sees the files present now.
    */
  def listFilesRecursive(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] = {
    val index = new execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[classic.SparkSession],
      paths.map(new org.apache.hadoop.fs.Path(_)),
      Map("recursiveFileLookup" -> "true"), None)
    index.allFiles().map(f => (f.getPath.toString, f.getLen))
  }
}
