package graft.sources

import graft.odim.OdimReader
import graft.vpts.{BirdProfile, Vpts, VptsCsvVersion}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSourceV2 `odim` format: `spark.read.format("odim").load(dir)` scans a
  * lake of ODIM HDF5 VP files into the VPTS v1 string schema.
  *
  * Planning lists *.h5 recursively (driver side, Hadoop FS — works on
  * s3a://) and bin-packs the small files into partitions of
  * `maxPartitionBytes` (default 128 MiB, i.e. thousands of ~25 KB profiles
  * per task — the small-file mitigation SURVEY.md §4 calls for). Each
  * partition reader decodes its files with the pure-JVM reader and emits
  * one InternalRow per altitude level. Options: `version` (vpts-csv ruleset,
  * default v1.0), `failFast` (default true; false = warn-and-skip corrupt
  * files).
  */
class OdimDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "odim"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Vpts.schemaV1

  /** A root path that does not exist fails the load with `PATH_NOT_FOUND`,
    * as parquet does, instead of reading as an empty lake.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    org.apache.spark.sql.GraftSqlBridge.requireExistingPaths(
      org.apache.spark.sql.SparkSession.active, OdimDataSource.rootPaths(options))
    new OdimTable(options)
  }
}

object OdimDataSource {
  /** The load's root paths: multi-path load() hands over a JSON-array
    * "paths" option, single-path a plain "path".
    */
  def rootPaths(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("paths")).map { s =>
      if (s.startsWith("["))
        s.substring(1, s.length - 1).split(",").toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      else s.split(",").toSeq
    }.orElse(Option(options.get("path")).map(Seq(_))).getOrElse(Seq.empty)
}

final class OdimTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"odim(${options.get("path")})"
  override def schema(): StructType = Vpts.schemaV1
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new OdimScanBuilder(o)
}

/** Optimizer integration: Catalyst hands us the required columns (pruning
  * the 26-column profile to what the query projects), any LIMIT (readers
  * early-stop; Spark still applies the exact global limit), and the
  * predicates. `radar`/`datetime` predicates prune FILES at planning time
  * from the file-name pattern — the partition-pruning analog for a lake
  * laid out as `radar_type_yyyymmddThhmm*.h5` (the same name-derived keying
  * the reference's day grouping trusts). Correctness of the pruning rests
  * on that trust: names must agree with content. Every filter is also
  * returned as a post-scan residual, which protects against keeping too
  * much (a kept file whose name over-promises), but a file whose NAME
  * disagrees with its content radar/datetime is pruned before its rows are
  * ever read — residuals cannot resurrect a dropped file. That is the same
  * name==content assumption the reference's day grouping makes.
  */
final class OdimScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownFilters {
  private var required: StructType = Vpts.schemaV1
  private var limit: Int = -1
  private var pruning: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fields.nonEmpty) required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed: Boolean = true

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    pruning = filters.filter(OdimFilePruning.prunable)
    filters // all filters stay as residuals (file pruning is best-effort)
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pruning

  override def build(): Scan = new OdimScan(options, required, limit, pruning)
}

/** Driver-side file pruning from the ODIM name pattern. Conservative at
  * minute granularity: comparisons use the name's yyyy-mm-ddThh:mm prefix
  * against the literal's first 16 chars, and unparseable names are never
  * pruned.
  */
object OdimFilePruning {
  import org.apache.spark.sql.sources._

  private val Name =
    ".*?([a-zA-Z]{5})_([a-z]*)_(\\d{4})(\\d\\d)(\\d\\d)T?(\\d\\d)(\\d\\d).*\\.h5".r

  def prunable(f: Filter): Boolean = f match {
    case EqualTo("radar", _) | In("radar", _) => true
    case EqualTo("datetime", _) => true
    case GreaterThan("datetime", _) | GreaterThanOrEqual("datetime", _) => true
    case LessThan("datetime", _) | LessThanOrEqual("datetime", _) => true
    case _ => false
  }

  private def prefix16(v: Any): String = String.valueOf(v).take(16)

  def keep(fileName: String, filters: Seq[Filter]): Boolean = fileName match {
    case Name(radar, _, y, m, d, hh, mm) =>
      val r = radar.toLowerCase
      val minute = s"$y-$m-${d}T$hh:$mm"
      filters.forall {
        case EqualTo("radar", v) => r == String.valueOf(v)
        case In("radar", vs) => vs.map(String.valueOf(_)).contains(r)
        case EqualTo("datetime", v) => minute == prefix16(v)
        case GreaterThan("datetime", v) => minute >= prefix16(v)
        case GreaterThanOrEqual("datetime", v) => minute >= prefix16(v)
        case LessThan("datetime", v) => minute <= prefix16(v)
        case LessThanOrEqual("datetime", v) => minute <= prefix16(v)
        case _ => true
      }
    case _ => true
  }
}

final case class OdimFileRef(path: String, size: Long)
final case class OdimInputPartition(files: Seq[OdimFileRef]) extends InputPartition

/** Java-serializable Hadoop Configuration (Configuration is Writable but
  * not Serializable): carries the SESSION's Hadoop conf to executor-side
  * readers, so custom filesystems and credentials configured on the session
  * (fs.s3a.*, fs.<scheme>.impl, …) apply inside the scan — a fresh
  * `new Configuration()` on the executor would silently drop them.
  */
final class SerializableHadoopConf(
    @transient private var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

final class OdimScan(options: CaseInsensitiveStringMap,
    required: StructType = null, limit: Int = -1,
    pruning: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {
  // The session that built this scan, captured EAGERLY at construction (the
  // ScanBuilder runs inside that session's planner). Resolving
  // SparkSession.active lazily in planInputPartitions/createReaderFactory
  // would, in a multi-session application, pick up whichever session happens
  // to be active then and propagate the wrong fs.* settings to executors.
  @transient private val session = org.apache.spark.sql.SparkSession.active
  private val serializableConf =
    new SerializableHadoopConf(session.sparkContext.hadoopConfiguration)
  private val schema0: StructType = Option(required).getOrElse(Vpts.schemaV1)
  override def readSchema(): StructType = schema0
  override def toBatch: Batch = this
  override def description(): String =
    s"OdimScan(${options.get("path")}, columns=${schema0.fieldNames.mkString(",")}" +
      (if (limit >= 0) s", limit=$limit" else "") +
      (if (pruning.nonEmpty) s", pruneFilters=${pruning.mkString(";")}" else "") + ")"

  private def listH5(root: String): Seq[OdimFileRef] = {
    org.apache.spark.sql.GraftSqlBridge.listFilesRecursive(session, Seq(root))
      .collect { case (p, len) if p.endsWith(".h5") => OdimFileRef(p, len) }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val listed = OdimDataSource.rootPaths(options).flatMap(listH5).sortBy(_.path)
    val files =
      if (pruning.isEmpty) listed
      else listed.filter(f => OdimFilePruning.keep(
        f.path.substring(f.path.lastIndexOf('/') + 1), pruning.toSeq))
    OdimScan.lastPlannedFileCount = files.length // test/debug probe
    // cap partition size BOTH by maxPartitionBytes and by total/parallelism:
    // a lake of small files must still fan out across all cores
    val confMax = Option(options.get("maxPartitionBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    val parallelism = session.sparkContext.defaultParallelism.max(1)
    val totalBytes = files.map(_.size).sum.max(1L)
    val maxBytes = math.max(1L, math.min(confMax, totalBytes / parallelism))
    // first-fit bin-packing in sorted order (keeps day-locality per task)
    val parts = Seq.newBuilder[OdimInputPartition]
    var cur = Vector.empty[OdimFileRef]
    var curBytes = 0L
    files.foreach { f =>
      if (cur.nonEmpty && curBytes + f.size > maxBytes) {
        parts += OdimInputPartition(cur); cur = Vector.empty; curBytes = 0
      }
      cur :+= f; curBytes += f.size
    }
    if (cur.nonEmpty) parts += OdimInputPartition(cur)
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OdimPartitionReaderFactory(
      Option(options.get("version")).getOrElse("v1.0"),
      Option(options.get("failFast")).forall(_.toBoolean),
      schema0.fieldNames, limit, serializableConf)
}

object OdimScan {
  /** Observability/test probe: file count of the most recent planning pass
    * (after filter-based pruning) in this JVM.
    */
  @volatile var lastPlannedFileCount: Int = -1
}

final class OdimPartitionReaderFactory(version: String, failFast: Boolean,
    columns: Array[String], limit: Int, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[OdimInputPartition].files
    new OdimPartitionReader(files, version, failFast, columns, limit, conf)
  }
}

final class OdimPartitionReader(files: Seq[OdimFileRef], version: String,
    failFast: Boolean, columns: Array[String], limit: Int,
    conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val ruleset = VptsCsvVersion(version)
  // indices of the pruned columns within the full 26-column row
  private val colIdx: Array[Int] = columns.map(ruleset.columns.indexOf)
  private var emitted = 0L
  private val fileIt = files.iterator
  private var rowIt: Iterator[scala.collection.immutable.ArraySeq[String]] = Iterator.empty
  private var current: InternalRow = _
  private def hadoopConf = conf.value

  private def decodeNextFile(): Boolean = {
    while (fileIt.hasNext) {
      val f = fileIt.next()
      val name = f.path.substring(f.path.lastIndexOf('/') + 1)
      try {
        val p = new HPath(f.path)
        val fs = p.getFileSystem(hadoopConf)
        // single positioned readFully: java.io readAllBytes over the Hadoop
        // stream degrades to many small reads (7x slowdown on small files)
        val bytes = new Array[Byte](f.size.toInt)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        val reader = OdimReader.checkVpOdim(OdimReader(bytes, name))
        rowIt = ruleset.rows(BirdProfile.fromOdim(reader, name)).iterator
        if (rowIt.hasNext) return true
      } catch {
        case e: Exception if !failFast =>
          System.err.println(s"[odim] skipping $name: ${e.getMessage}")
      }
    }
    false
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // early stop per reader
    if (!rowIt.hasNext && !decodeNextFile()) return false
    val cells = rowIt.next()
    val values = new Array[Any](colIdx.length)
    var j = 0
    while (j < colIdx.length) { values(j) = UTF8String.fromString(cells(colIdx(j))); j += 1 }
    current = new GenericInternalRow(values)
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
