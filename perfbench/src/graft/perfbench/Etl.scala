package graft.perfbench

import graft.cli.Vph5ToVpts
import graft.lake.{CsvSink, Inventory, LakeController}
import graft.odim.OdimReader
import graft.sources.OdimInputPartition
import graft.vpts.{BirdProfile, Vpts, VptsCsvV1}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import scala.jdk.CollectionConverters._
import VpGen.Profile

/** Result of the output checks after one operation. */
final case class Outcome(attempted: Int, failed: Int, digests: Seq[(String, String)],
    errors: Seq[String])

/** One benchmark workload. `op` is the timed operation. */
trait Workload {
  /** Work items per operation: the h5 files it converts, or its queries. */
  def items: Int
  /** Writes fresh inputs for set-up round `round`. */
  def generate(round: Int): Unit
  /** Deletes the outputs of the previous operation. */
  def clearOutputs(): Unit
  /** Runs the operation; returns the seconds of each of its steps (one
    * registry query, or the whole call).
    */
  def op(): Seq[(String, Double)]
  /** The set-up's cold warm-up operation. */
  def warmUp(): Unit = op()
  /** The same work as `op` with spans around the calls into each layer;
    * returns counts measured on the way (`steps_s`: the traced
    * operation's own measure of its steps, where it differs from its wall).
    */
  def tracedOp(t: Tracer, c: SparkCollector): Map[String, Double]
  def check(): Outcome
  /** Per-layer probes of a traced run, outside the timed operations. */
  def probes(): Map[String, Double]
}

/** Helpers shared by the ETL workloads. */
object Etl {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Writes every profile's file under `bucket`, in parallel (each file's
    * bytes depend only on its profile).
    */
  def writeFiles(bucket: Path, profiles: IndexedSeq[Profile]): Unit =
    java.util.stream.IntStream.range(0, profiles.size).parallel().forEach { i =>
      val p = profiles(i)
      val f = bucket.resolve(p.lakeKey)
      Files.createDirectories(f.getParent)
      Files.write(f, VpGen.bytes(p))
    }

  /** Sources-layer planning: builds `Vpts.vpts` over `paths` and forces the
    * physical plan's scan partitions (listing + bin-packing). Returns
    * (files planned, partitions).
    */
  def planScan(spark: SparkSession, paths: Seq[String]): (Int, Int) = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    val parts = scans(Vpts.vpts(spark, paths).queryExecution.executedPlan)
      .flatMap(_.inputPartitions)
    (parts.map { case o: OdimInputPartition => o.files.size; case _ => 0 }.sum, parts.size)
  }

  /** Plan probe over `paths`, median of three: seconds, files, partitions. */
  def planProbe(spark: SparkSession, paths: Seq[String]): (Double, Int, Int) = {
    var planned = (0, 0)
    val s = Stats.median((1 to 3).map(_ => Stats.time { planned = planScan(spark, paths) }))
    (s, planned._1, planned._2)
  }

  /** Unsorted `odim` scan of `paths` to the noop sink, median of three, s. */
  def scanNoop(spark: SparkSession, paths: Seq[String]): Double =
    Stats.median((1 to 3).map(_ => Stats.time {
      spark.read.format("odim").load(paths: _*).write.mode("overwrite").format("noop").save()
    }))

  /** Single-threaded parse / decode / render pass over in-memory files of
    * `profiles` (an evenly spaced sample): mean microseconds per file of
    * each stage, median of three passes after a warm-up pass.
    */
  def stagePass(profiles: IndexedSeq[Profile], n: Int): Map[String, Double] = {
    val step = math.max(1, profiles.size / n)
    val sample = profiles.indices.by(step).take(n).map(i => profiles(i).fileName -> VpGen.bytes(profiles(i)))
    def pass(): (Double, Double, Double) = {
      var parse, decode, render = 0L
      sample.foreach { case (name, bytes) =>
        val t0 = System.nanoTime()
        val r = OdimReader.checkVpOdim(OdimReader(bytes, name))
        val t1 = System.nanoTime()
        val bp = BirdProfile.fromOdim(r, name)
        val t2 = System.nanoTime()
        val rows = VptsCsvV1.rows(bp)
        val t3 = System.nanoTime()
        require(rows.size == VpGen.Levels, s"$name: ${rows.size} rows")
        parse += t1 - t0; decode += t2 - t1; render += t3 - t2
      }
      val k = sample.size * 1e3
      (parse / k, decode / k, render / k)
    }
    pass()
    val ps = (1 to 3).map(_ => pass())
    Map("odim.parse_us" -> Stats.median(ps.map(_._1)),
      "vpts.decode_us" -> Stats.median(ps.map(_._2)),
      "vpts.render_us" -> Stats.median(ps.map(_._3)))
  }

  /** The benchmark's own rendering of a daily VPTS CSV (header + rows in
    * canonical order), for days that existed before the run.
    */
  def priorDailyCsv(profiles: Seq[Profile]): String = {
    def f(v: Double) = if (v == VpGen.NoData) "" else if (v == VpGen.Undetect) "NaN" else v.toString
    val sb = new StringBuilder(Checks.Header).append('\n')
    Checks.expectedOrder(profiles).foreach { case (p, l) =>
      val r = p.radar
      sb.append(r.code).append(',').append(p.datetimeIso).append(',').append(l * VpGen.LevelStep)
      (0 until 6).foreach(q => sb.append(',').append(f(p.floats(q)(l))))
      sb.append(',').append(if (p.gap(l) == 1) "TRUE" else "FALSE")
      (6 until VpGen.FloatVars.size).foreach(q => sb.append(',').append(f(p.floats(q)(l))))
      p.counts.foreach(c => sb.append(',').append(c(l)))
      sb.append(",11.0,2.0,").append(if (r.vcp == 0) "" else r.vcp.toString)
      sb.append(',').append(math.rint(r.lat * 1e6) / 1e6).append(',').append(math.rint(r.lon * 1e6) / 1e6)
      sb.append(',').append(r.height.toLong).append(',').append(r.wavelength)
      sb.append(',').append(p.fileName).append('\n')
    }
    sb.toString
  }

  def digest(p: Path, e: Either[String, String], errs: collection.mutable.Buffer[String],
      digests: collection.mutable.Buffer[(String, String)]): Int = e match {
    case Right(sha) => digests += (p.getFileName.toString -> sha); 0
    case Left(err) => errs += err; 1
  }
}

/** Production path: the incremental daily/monthly rebuild CLI over a
  * generated S3-style inventory (`inventoryDays` of 5-minute profiles per
  * radar plus daily and monthly CSV keys). Only the first `activeRadars`
  * radars have files modified within the two-day look-back window, and only
  * those radar-days have h5 files on disk; the daily CSVs of the touched
  * month's earlier days exist before the run.
  */
final class DailyCron(spark: SparkSession, work: Path, seed: Long, nRadars: Int,
    activeRadars: Int, inventoryDays: Int, windowEnd: LocalDate) extends Workload {
  private val allRadars = VpGen.radars(seed, nRadars)
  private val radars = allRadars.take(activeRadars)
  private val window = Seq(windowEnd.minusDays(1), windowEnd)
  private val monthStart = window.head.withDayOfMonth(1)
  private val priorDays = Iterator.iterate(monthStart)(_.plusDays(1)).takeWhile(_.isBefore(window.head)).toSeq
  private var dir: Path = _
  private var now: Instant = _
  private var byDay: Map[(String, LocalDate), IndexedSeq[Profile]] = Map.empty
  private var coverageExpected = ""
  private var inventoryRows = 0
  private var nFiles = 0
  /** (days, months) rebuilt by the last operation: the CLI's own report,
    * or the traced copy's counts; and the CLI's report of the last
    * untraced operation.
    */
  private var report: Option[(Int, Int)] = None
  private var cliReport: Option[(Int, Int)] = None
  private var lastTraced = false
  private val Created = "Created (\\d+) daily and (\\d+) monthly VPTS files".r

  private def bucket = dir.resolve("bucket")
  private def inventory = dir.resolve("inventory.csv")
  private def coverage = dir.resolve("coverage.csv")
  private def ymd(d: LocalDate) = (f"${d.getYear}%04d", f"${d.getMonthValue}%02d", f"${d.getDayOfMonth}%02d")
  private def dayKey(r: VpGen.Radar, d: LocalDate) = {
    val (y, m, dd) = ymd(d)
    LakeController.DayKey("baltrad", r.code, y, m, dd)
  }
  private def dailyPath(r: VpGen.Radar, d: LocalDate) = Path.of(dayKey(r, d).dailyCsvPath(bucket.toString))
  private def monthKey(r: VpGen.Radar) = {
    val (y, m, _) = ymd(monthStart)
    LakeController.MonthKey("baltrad", r.code, y, m)
  }
  private def monthlyPath(r: VpGen.Radar) = Path.of(monthKey(r).monthlyCsvPath(bucket.toString))
  private def cliArgs = Array("--bucket", bucket.toString, "--inventory", inventory.toString,
    "--modified-days-ago", "2", "--coverage", coverage.toString)

  def items: Int = nFiles

  def generate(round: Int): Unit = {
    if (dir != null) Etl.deleteTree(dir)
    dir = work.resolve(s"daily_cron_$round")
    Files.createDirectories(dir)
    // the CLI compares `modified` with Instant.now(): stamp relative to
    // the wall clock at set-up
    now = Instant.now()
    byDay = (for (r <- radars; d <- window) yield (r.code, d) -> VpGen.radarDay(seed, r, d)).toMap
    val onDisk = byDay.values.flatten.toIndexedSeq
    Etl.writeFiles(bucket, onDisk)
    nFiles = onDisk.size
    for (r <- radars; d <- priorDays) {
      val p = dailyPath(r, d)
      Files.createDirectories(p.getParent)
      Files.writeString(p, Etl.priorDailyCsv(VpGen.radarDay(seed, r, d)))
    }
    writeInventory()
  }

  /** Headerless `repo,file,size,modified` rows. */
  private def writeInventory(): Unit = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    val cov = new java.util.TreeMap[String, Integer]()
    var rows = 0
    val w = Files.newBufferedWriter(inventory, UTF_8)
    try {
      for (r <- allRadars; back <- (inventoryDays - 1) to 0 by -1) {
        val d = windowEnd.minusDays(back.toLong)
        val (y, m, dd) = ymd(d)
        val modified = fmt.format(
          if (byDay.contains((r.code, d))) now.minusSeconds(3 * 3600L + back * 600L)
          else now.minusSeconds((back + 3) * 86400L))
        val slots = VpGen.daySlots(seed, r, d)
        val dayStart = VpGen.dayStart(d)
        val prefix = s"aloft,baltrad/hdf5/${r.code}/$y/$m/$dd/${r.code}_vp_$y$m${dd}T"
        slots.foreach { case (ts, v) =>
          val s = (ts - dayStart).toInt
          w.write(f"$prefix${s / 3600}%02d${s / 60 % 60}%02d00Z_${if (v == 0) "0x9" else "0xb"}.h5,${10800 + ts % 97},$modified\n")
        }
        rows += slots.size
        cov.put(s"baltrad/hdf5/${r.code}/$y/$m/$dd", slots.size)
        w.write(s"aloft,baltrad/daily/${r.code}/$y/${r.code}_vpts_$y$m$dd.csv,1450000,$modified\n")
        rows += 1
        if (d.getDayOfMonth == 1) {
          w.write(s"aloft,baltrad/monthly/${r.code}/$y/${r.code}_vpts_$y$m.csv.gz,9100000,$modified\n")
          rows += 1
        }
      }
    } finally w.close()
    inventoryRows = rows
    coverageExpected = "directory,file_count\n" + cov.asScala.map { case (k, v) => s"$k,$v\n" }.mkString
  }

  def clearOutputs(): Unit = {
    report = None
    Files.deleteIfExists(coverage)
    for (r <- radars) {
      window.foreach(d => Files.deleteIfExists(dailyPath(r, d)))
      Files.deleteIfExists(monthlyPath(r))
    }
  }

  def op(): Seq[(String, Double)] = {
    val out = new java.io.ByteArrayOutputStream()
    val s = Stats.time {
      Console.withOut(new java.io.PrintStream(out, true, UTF_8)) { Vph5ToVpts.run(spark, cliArgs) }
    }
    val text = out.toString(UTF_8)
    System.err.print(text)
    report = Created.findFirstMatchIn(text).map(m => (m.group(1).toInt, m.group(2).toInt))
    cliReport = report
    lastTraced = false
    Seq("cli" -> s)
  }

  /** A copy of `LakeController.run`'s steps (the CLI's body), one span per
    * call. [[check]] holds it to the program: its day and month counts
    * must equal what `LakeController.run` reported on the untraced
    * operation before it, and its outputs pass the same checks.
    */
  def tracedOp(t: Tracer, c: SparkCollector): Map[String, Double] = {
    val days = t.span("lake.inventory") {
      val inv = Inventory.read(spark, inventory.toString)
      t.span("lake.coverage") { CsvSink.writeSingleCsv(Inventory.coverage(inv), coverage.toString) }
      t.span("lake.days_to_rebuild") {
        LakeController.dayKeys(Inventory.daysToRebuild(inv, 2, Instant.now()))
      }
    }
    days.foreach(d => t.span("lake.rebuild_day") { LakeController.rebuildDay(spark, bucket.toString, d) })
    val months = LakeController.monthKeys(days)
    months.foreach(m => t.span("lake.rebuild_month") { LakeController.rebuildMonth(spark, bucket.toString, m) })
    report = Some((days.size, months.size))
    lastTraced = true
    val written = (Seq(coverage) ++ radars.flatMap(r => window.map(dailyPath(r, _)) :+ monthlyPath(r)))
      .filter(Files.exists(_)).map(Files.size).sum
    val monthIn = radars.flatMap(r => (priorDays ++ window).map(dailyPath(r, _)))
      .filter(Files.exists(_)).map(Files.size).sum
    Map("lake.days_rebuilt" -> days.size.toDouble, "lake.bytes_written" -> written / 1e6,
      "lake.month_bytes_in" -> monthIn / 1e6)
  }

  def check(): Outcome = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val digests = collection.mutable.ArrayBuffer.empty[(String, String)]
    var failed = 0
    for (r <- radars; d <- window) {
      val p = dailyPath(r, d)
      failed += Etl.digest(p, Checks.vptsCsv(p, byDay((r.code, d))), errs, digests)
    }
    for (r <- radars) {
      val dailies = (priorDays ++ window).map(dailyPath(r, _))
      val p = monthlyPath(r)
      failed += Etl.digest(p, Checks.monthlyGz(p, dailies), errs, digests)
    }
    val cov = if (Files.isRegularFile(coverage)) Files.readString(coverage) else ""
    if (cov == coverageExpected) digests += ("coverage.csv" -> Checks.sha256(cov.getBytes(UTF_8)))
    else { failed += 1; errs += s"$coverage: coverage counts differ from the inventory" }
    // every active radar-day and its month rebuilt, as the CLI reports it;
    // a traced operation must count what the CLI counted
    val expected = Some((radars.size * window.size, radars.size))
    if (report != expected) {
      failed += 1
      errs += s"${if (lastTraced) "traced copy of LakeController.run" else "CLI"} reported " +
        s"(days, months) = ${report.getOrElse("nothing")}, expected ${expected.get}"
    } else if (lastTraced && cliReport != report) {
      failed += 1
      errs += s"traced copy of LakeController.run counted $report, the CLI $cliReport"
    }
    Outcome(radars.size * window.size + radars.size + 2, failed, digests.toSeq, errs.toSeq)
  }

  def probes(): Map[String, Double] = {
    val folders = for (r <- radars; d <- window) yield dayKey(r, d).h5Folder(bucket.toString)
    val plans = folders.map(f => Etl.planProbe(spark, Seq(f)))
    Map("sources.plan_s" -> plans.map(_._1).sum,
      "sources.files_planned" -> plans.map(_._2).sum.toDouble,
      "sources.partitions" -> plans.map(_._3).sum.toDouble,
      "sources.scan_s" -> folders.map(f => Etl.scanNoop(spark, Seq(f))).sum,
      "lake.inventory_rows" -> inventoryRows.toDouble) ++
      Etl.stagePass(byDay.values.flatten.toIndexedSeq.sortBy(_.fileName), 200)
  }
}

/** Backfill: `Vpts.vpts` over one generated lake, then one sorted CSV via
  * `CsvSink.writeSingleCsv`; no inventory.
  */
final class BulkConvert(spark: SparkSession, work: Path, seed: Long, nRadars: Int,
    days: Seq[LocalDate]) extends Workload {
  private val radars = VpGen.radars(seed, nRadars)
  private var dir: Path = _
  private var profiles: IndexedSeq[Profile] = IndexedSeq.empty

  private def lake = dir.resolve("lake")
  private def out = dir.resolve("vpts.csv")

  def items: Int = profiles.size

  def generate(round: Int): Unit = {
    if (dir != null) Etl.deleteTree(dir)
    dir = work.resolve(s"bulk_convert_$round")
    profiles = (for (r <- radars; d <- days) yield VpGen.radarDay(seed, r, d)).flatten
    Etl.writeFiles(lake, profiles)
  }

  def clearOutputs(): Unit = Files.deleteIfExists(out)

  def op(): Seq[(String, Double)] =
    Seq("convert" -> Stats.time {
      CsvSink.writeSingleCsv(Vpts.vpts(spark, Seq(lake.toString)), out.toString)
    })

  def tracedOp(t: Tracer, c: SparkCollector): Map[String, Double] = {
    val df = t.span("vpts.build") { Vpts.vpts(spark, Seq(lake.toString)) }
    t.span("lake.sink") { CsvSink.writeSingleCsv(df, out.toString) }
    Map("lake.bytes_written" -> Files.size(out) / 1e6)
  }

  def check(): Outcome = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val digests = collection.mutable.ArrayBuffer.empty[(String, String)]
    val failed = Etl.digest(out, Checks.vptsCsv(out, profiles), errs, digests)
    Outcome(1, failed, digests.toSeq, errs.toSeq)
  }

  def probes(): Map[String, Double] = {
    val (planS, files, parts) = Etl.planProbe(spark, Seq(lake.toString))
    Map("sources.plan_s" -> planS, "sources.files_planned" -> files.toDouble,
      "sources.partitions" -> parts.toDouble,
      "sources.scan_s" -> Etl.scanNoop(spark, Seq(lake.toString))) ++
      Etl.stagePass(profiles, 200)
  }
}
