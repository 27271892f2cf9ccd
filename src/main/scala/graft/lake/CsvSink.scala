package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{BufferedReader, BufferedWriter, ByteArrayOutputStream, InputStreamReader,
  OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutionException, Executors, Future}
import java.util.zip.GZIPOutputStream

/** Single-file CSV sinks over the Hadoop FileSystem API — the VPTS exchange
  * contract is ONE ordered CSV per day/month (`vpts.py:278-294`), so these
  * stream the (already sorted) DataFrame through the driver with
  * toLocalIterator: partitions arrive in order, one at a time, and the
  * driver holds one partition's serialized rows. A canonical VPTS
  * conversion is a single partition (`Vpts.sortCanonical`), so that is the
  * whole conversion: about 2 MB for a radar-day. Works against local paths
  * and s3a:// alike.
  */
object CsvSink {

  def fs(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** pandas to_csv minimal quoting. */
  def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def create(filesystem: FileSystem, path: String): OutputStream = {
    val hp = new HPath(path)
    Option(hp.getParent).foreach(filesystem.mkdirs(_))
    filesystem.create(hp, true)
  }

  private def writer(stream: OutputStream): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(stream, StandardCharsets.UTF_8))

  def writeSingleCsv(df: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val raw = create(fs(df.sparkSession, path), path)
    val out = writer(if (gzip) new GZIPOutputStream(raw) else raw)
    try {
      out.write(df.columns.mkString(","))
      out.write("\n")
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val sb = new StringBuilder
        var i = 0
        while (i < row.length) {
          if (i > 0) sb.append(',')
          sb.append(csvQuote(if (row.isNullAt(i)) "" else row.get(i).toString))
          i += 1
        }
        out.write(sb.toString)
        out.write("\n")
      }
    } finally out.close()
  }

  /** Writes rows the driver already holds (the coverage.csv cut from the
    * collected inventory aggregate) in [[writeSingleCsv]]'s format, with no
    * Spark job.
    */
  def writeCsv(spark: SparkSession, path: String, header: Seq[String],
      rows: Seq[Seq[String]]): Unit = {
    val out = writer(create(fs(spark, path), path))
    try {
      out.write(header.mkString(","))
      out.write("\n")
      rows.foreach { r => out.write(r.map(csvQuote).mkString(",")); out.write("\n") }
    } finally out.close()
  }

  /** One input's share of a concatenation: its header line (null for an
    * empty file) and its body lines, encoded.
    */
  private final class Part(val header: String, val body: Array[Byte])

  private def encode(gzip: Boolean)(write: BufferedWriter => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = writer(if (gzip) new GZIPOutputStream(bytes) else bytes)
    try write(out) finally out.close()
    bytes.toByteArray
  }

  private def readPart(filesystem: FileSystem, in: String, gzip: Boolean): Part = {
    val reader = new BufferedReader(
      new InputStreamReader(filesystem.open(new HPath(in)), StandardCharsets.UTF_8))
    try {
      val header = reader.readLine()
      var line = if (header == null) null else reader.readLine()
      val body =
        if (line == null) Array.emptyByteArray
        else encode(gzip) { out =>
          while (line != null) {
            out.write(line)
            out.write("\n")
            line = reader.readLine()
          }
        }
      new Part(header, body)
    } finally reader.close()
  }

  /** Concatenate already-written daily CSVs (sorted file order, header kept
    * once, taken from the first non-empty file; every line re-terminated
    * with `\n`) into one optionally-gzipped monthly CSV — the reference's
    * string-preserving pd.concat + to_csv round-trip (`vph5_to_vpts.py:
    * 230-245`) is byte-equivalent to header-stripping concatenation because
    * both sides use minimal quoting over unchanged strings.
    *
    * Inputs are read and compressed on `availableProcessors` threads, each
    * into its own gzip member, and the members are written in input order:
    * the header as one member, then one per non-empty body. A file of
    * several members is one gzip file (RFC 1952 §2.2) whose decompressed
    * bytes are the members' in order; `gzip -t`, `zcat`, Python's `gzip` and
    * `pandas.read_csv` read all of it. At most two members per thread are
    * held in memory at once.
    */
  def concatCsvFiles(spark: SparkSession, inputs: Seq[String], outPath: String,
      gzip: Boolean): Unit = {
    val filesystem = fs(spark, outPath)
    val threads = Runtime.getRuntime.availableProcessors()
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val out = create(filesystem, outPath)
      try {
        val pending = new java.util.ArrayDeque[Future[Part]]()
        val todo = inputs.iterator
        def refill(): Unit = while (pending.size < 2 * threads && todo.hasNext) {
          val in = todo.next()
          pending.add(pool.submit(() => readPart(filesystem, in, gzip)))
        }
        var headerWritten = false
        refill()
        while (!pending.isEmpty) {
          val part =
            try pending.poll().get()
            catch { case e: ExecutionException => throw e.getCause }
          refill()
          if (!headerWritten && part.header != null) {
            out.write(encode(gzip)(_.write(part.header + "\n")))
            headerWritten = true
          }
          out.write(part.body)
        }
        // all inputs empty: still a valid (empty) gzip file
        if (!headerWritten && gzip) out.write(encode(gzip)(_ => ()))
      } finally out.close()
    } finally pool.shutdownNow()
  }
}
