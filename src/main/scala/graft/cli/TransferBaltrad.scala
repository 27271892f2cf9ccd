package graft.cli

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** CLI equivalent of the reference's `transfer_baltrad` sync
  * (`transfer_baltrad.py:72-165`): source listing -> keep only VP files
  * (F3 `_vp_` filter) -> anti-join against destination (F4 "already
  * transferred" membership test) -> copy, into the
  * `source/hdf5/radar/yyyy/mm/dd/` lake layout.
  *
  * The source end is a pluggable [[RemoteSource]] — the same driver-side
  * connector seam the reference's paramiko SFTP client occupies
  * (`transfer_baltrad.py:128` listdir_attr, `:146-158` get): any transport
  * that can list file names and fetch bytes plugs into the pipeline. A
  * Hadoop-FS implementation covers file:// and s3a:// ends; tests exercise
  * an in-process mock server. The anti-join is a real Spark left-anti on
  * file names, so the diff scales to listings of any size.
  */
object TransferBaltrad {

  /** Driver-side source connector: the minimal surface the sync needs
    * (mirrors paramiko's `listdir_attr` + `get`).
    */
  trait RemoteSource {
    def listFileNames(): Seq[String]
    def get(name: String): Array[Byte]
  }

  /** Hadoop-FS-backed source (file://, s3a://, ...). */
  final class HadoopSource(root: String, conf: org.apache.hadoop.conf.Configuration)
      extends RemoteSource {
    private val rootPath = new HPath(root)
    private lazy val fs = rootPath.getFileSystem(conf)
    // non-recursive: the baltrad server layout is flat, and get() resolves
    // "$root/$name" — a recursive listing would return names from
    // subdirectories that get() could then not fetch
    override def listFileNames(): Seq[String] = {
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq.filter(_.isFile).map(_.getPath.getName)
    }
    override def get(name: String): Array[Byte] = {
      val in = fs.open(new HPath(s"$root/$name"))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toByteArray
      } finally in.close()
    }
  }

  def main(args: Array[String]): Unit =
    Alerting.guarded("transfer_baltrad", args.toSeq, "[vptstools] transfer_baltrad failed") {
      run(args)
    }

  private def run(args: Array[String]): Unit = {
    val opts = CliOptions.parse(args.toSeq, Seq("--source", "--destination", "--lake-source"),
      required = Seq("--source", "--destination"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("transferBaltrad")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val copied = sync(spark, opts("--source"), opts("--destination"),
      opts.getOrElse("--lake-source", "baltrad"))
    println(s"Transferred $copied files.")
    spark.stop()
  }

  /** FS-to-FS convenience form (CLI path). */
  def sync(spark: SparkSession, src: String, dst: String, lakeSource: String): Int =
    sync(spark, new HadoopSource(src, spark.sparkContext.hadoopConfiguration),
      dst, lakeSource)

  def sync(spark: SparkSession, source: RemoteSource, dst: String,
      lakeSource: String): Int = {
    import graft.functions.OdimPaths
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration

    def listDst(root: String): Seq[String] = {
      val p = new HPath(root)
      if (!p.getFileSystem(conf).exists(p)) Seq.empty
      else GraftSqlBridge.listFilesRecursive(spark, Seq(root))
        .map { case (path, _) => new HPath(path).getName }
    }

    val srcDf = source.listFileNames().toDF("name")
      .filter(col("name").contains("_vp_")) // F3: ignore PVOL
    val dstDf = listDst(dst).toDF("done")
    // F4: left-anti membership — only not-yet-transferred files
    val todo = srcDf.join(dstDf, col("name") === col("done"), "left_anti")
      .select(col("name"),
        concat_ws("/", lit(lakeSource), lit("hdf5"),
          OdimPaths.radarCode(col("name")), OdimPaths.year(col("name")),
          OdimPaths.month(col("name")), OdimPaths.day(col("name")),
          col("name")).as("target"))
      .collect()

    val dstFs = new HPath(dst).getFileSystem(conf)
    todo.foreach { row =>
      val name = row.getString(0)
      val target = new HPath(s"$dst/${row.getString(1)}")
      dstFs.mkdirs(target.getParent)
      val out = dstFs.create(target, true)
      try out.write(source.get(name)) finally out.close()
    }
    todo.length
  }
}
