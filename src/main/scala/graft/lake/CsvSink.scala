package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
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

  def fs(df: DataFrame, path: String): FileSystem =
    new HPath(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

  /** pandas to_csv minimal quoting. */
  def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def writeSingleCsv(df: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val hp = new HPath(path)
    val filesystem = fs(df, path)
    Option(hp.getParent).foreach(filesystem.mkdirs(_))
    val raw = filesystem.create(hp, true)
    val stream = if (gzip) new GZIPOutputStream(raw) else raw
    val out = new BufferedWriter(new OutputStreamWriter(stream, StandardCharsets.UTF_8))
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

  /** Concatenate already-written daily CSVs (sorted file order, header kept
    * once) into one optionally-gzipped monthly CSV — the reference's
    * string-preserving pd.concat + to_csv round-trip (`vph5_to_vpts.py:
    * 230-245`) is byte-equivalent to header-stripping concatenation because
    * both sides use minimal quoting over unchanged strings.
    */
  def concatCsvFiles(df: DataFrame, inputs: Seq[String], outPath: String,
      gzip: Boolean): Unit = {
    val filesystem = fs(df, outPath)
    val hp = new HPath(outPath)
    Option(hp.getParent).foreach(filesystem.mkdirs(_))
    val raw = filesystem.create(hp, true)
    val out = if (gzip) new GZIPOutputStream(raw) else raw
    try {
      var first = true
      inputs.foreach { in =>
        val is = filesystem.open(new HPath(in))
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(is, StandardCharsets.UTF_8))
        try {
          var line = reader.readLine() // header
          if (first && line != null) {
            out.write((line + "\n").getBytes(StandardCharsets.UTF_8))
            first = false
          }
          line = reader.readLine()
          while (line != null) {
            out.write((line + "\n").getBytes(StandardCharsets.UTF_8))
            line = reader.readLine()
          }
        } finally reader.close()
      }
    } finally out.close()
  }
}
