package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

object Stats {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Benchmark driver, one workload per invocation (see perfbench/README.md):
  *
  *   PerfBench --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *
  * Set-up (session start, three rounds of input generation, one cold
  * warm-up operation) and [[SettleOps]] untimed operations are followed by
  * a closed loop of operations for S seconds (at least [[MinOps]]), each
  * followed by its output checks. Prints a
  * `perfbench_detail` line, a `perfbench_oracle` line when query outputs
  * await the DuckDB check, and, last, a `perfbench_result` line.
  */
object PerfBench {

  val SetupRounds = 3
  /** Untimed, checked operations between the warm-up and the measured
    * loop: operation times still fall after one pass.
    */
  val SettleOps = 1
  val MinOps = 3
  /** Metrics of [[Workload.probes]]; those a workload does not measure
    * read 0.
    */
  val ProbeNames: Seq[String] = Seq("odim.parse_us", "vpts.decode_us", "vpts.render_us",
    "sources.plan_s", "sources.files_planned", "sources.partitions", "sources.scan_s",
    "lake.inventory_rows")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Heap in use after a full collection, MB. The first collection lets
    * Spark's ContextCleaner release the blocks and broadcasts of collected
    * plans; the reading follows once it had time to do so.
    */
  private def retainedHeapMb(spark: SparkSession): Double = {
    System.gc()
    PerfBenchBus.drain(spark.sparkContext)
    Thread.sleep(500)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def load1(): Double =
    Files.readString(Path.of("/proc/loadavg")).split(" ")(0).toDouble

  /** (steal, total) jiffies of all CPUs from /proc/stat: on a virtual
    * machine, steal is time another tenant held a CPU this one wanted.
    */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** An empty job through the same timed path (scheduler + noop commit):
    * the engine's per-job floor, median of five.
    */
  private def jobFloor(spark: SparkSession): Double =
    Stats.median((1 to 5).map(_ => Stats.time {
      spark.range(1).write.mode("overwrite").format("noop").save()
    }))

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  private def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case (k, v: Double) => "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    case (k, v: Map[_, _]) => "\"" + k + "\":" + json(v.asInstanceOf[Map[String, Any]])
    case (k, v: Seq[_]) => "\"" + k + "\":[" + v.map(x => x.toString).mkString(",") + "]"
    case (k, v) => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val name = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val work = Path.of(opts("--work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val loadBefore = load1()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.min(cores, 32))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = name match {
      case "daily_cron" =>
        new DailyCron(spark, work, seed, nRadars = 2, activeRadars = 1, inventoryDays = 365,
          windowEnd = LocalDate.of(2023, 4, 4))
      case "bulk_convert" =>
        new BulkConvert(spark, work, seed, nRadars = 2,
          days = Seq(LocalDate.of(2023, 9, 14), LocalDate.of(2023, 9, 15)))
      case "query_suite" =>
        new QuerySuite(spark, work, seed, docs = 500, vectors = 500, lineitems = 20000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    var digests: Seq[(String, String)] = Nil
    def account(o: Outcome): Boolean = {
      attempted += o.attempted
      failed += o.failed
      errors ++= o.errors
      if (o.failed == 0) digests = o.digests
      o.failed == 0
    }
    /** Runs `body` as one operation; false when it threw. */
    def attempt(body: => Unit): Boolean =
      try { body; true }
      catch { case e: Throwable =>
        errors += s"operation failed: $e"
        e.printStackTrace()
        false
      }
    def reportErrors(): Unit =
      errors.distinct.take(20).foreach(e => System.err.println("perfbench: CHECK FAILED: " + e))
    /** Checks the outputs of an operation that returned `ok`. */
    def checked(ok: Boolean): Boolean = {
      val o = wl.check()
      account(o)
      if (!ok && o.failed == 0) failed += 1
      ok && o.failed == 0
    }

    // set-up: three rounds of fresh inputs (each replaces the last), then
    // one cold warm-up operation on the last round's inputs, checked
    // outside its time
    val generateS = (1 to SetupRounds).map(round => Stats.time(wl.generate(round)))
    wl.clearOutputs()
    var warmOk = false
    val warmS = Stats.time { warmOk = attempt(wl.warmUp()) }
    checked(warmOk)
    val setupS = sessionS + Stats.median(generateS) + warmS
    (1 to SettleOps).foreach { _ =>
      wl.clearOutputs()
      checked(attempt(wl.op()))
    }

    val collector = if (traced) Some(new SparkCollector(spark)) else None
    val tracer = new Tracer
    val probes = if (traced) wl.probes() else Map.empty[String, Double]

    val floorBefore = jobFloor(spark)
    val ticksBefore = cpuTicks()
    val walls, cpus, storage, tracedWalls = ArrayBuffer.empty[Double]
    val steps = ArrayBuffer.empty[(String, Double)]
    var heapMb = 0.0
    val engine = ArrayBuffer.empty[EngineStats]
    val counts = ArrayBuffer.empty[Map[String, Double]]
    val goodTraced = collection.mutable.Set.empty[Int]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || walls.size < MinOps ||
      (traced && tracedWalls.size < MinOps)) {
      // a traced run alternates untraced and traced operations
      val tracedNow = traced && i % 2 == 1
      wl.clearOutputs()
      val c0 = cpuS
      val w0 = System.nanoTime()
      var opSteps = Seq.empty[(String, Double)]
      var got = Map.empty[String, Double]
      var tracedId = 0
      val ok = attempt {
        if (!tracedNow) opSteps = wl.op()
        else {
          tracedId = tracer.newOp()
          collector.get.begin()
          got = tracer.span("op") { wl.tracedOp(tracer, collector.get) }
        }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = cpuS - c0
      val stats = collector.filter(_ => tracedNow).map(_.end())
      val good = checked(ok)
      // failed operations are counted, never timed or measured
      if (good) {
        if (tracedNow) {
          tracedWalls += got.getOrElse("steps_s", wall)
          engine ++= stats; counts += got; goodTraced += tracedId
        } else {
          walls += opSteps.map(_._2).sum; cpus += cpu; steps ++= opSteps
          // the heap is read at a fixed point of the loop, so a faster
          // program running more operations does not move it
          if (walls.size == MinOps) heapMb = retainedHeapMb(spark)
        }
        storage += storageMb(spark)
      }
      i += 1
      if (walls.size + tracedWalls.size == 0 && i >= 2 * MinOps) {
        reportErrors()
        throw new IllegalStateException(s"none of $i operations succeeded")
      }
    }
    val ticksAfter = cpuTicks()
    val floorAfter = jobFloor(spark)
    val loadAfter = load1()
    val stealShare = (ticksAfter._1 - ticksBefore._1).toDouble /
      math.max(1L, ticksAfter._2 - ticksBefore._2)
    // host noise band: load within the core count, job floor stable, at
    // most 10% of CPU time stolen during the measured loop
    val noisy = loadBefore > cores || floorAfter > 2 * floorBefore + 0.005 || stealShare > 0.1
    if (noisy)
      System.err.println(f"perfbench: host outside the noise band (load1 $loadBefore%.2f -> $loadAfter%.2f, " +
        f"job floor $floorBefore%.4f -> $floorAfter%.4f s, steal $stealShare%.3f)")

    // query outputs, written by the warm-up, await the DuckDB oracle
    val oracle = wl match {
      case q: QuerySuite =>
        digests = q.outputDigests()
        Some((q.tables, q.oracleOut))
      case _ => None
    }

    val runWall = Stats.median(walls.toSeq)
    // per step (query), the median over operations; their geometric mean
    val stepMedians = steps.groupMap(_._1)(_._2).map { case (k, v) => k -> Stats.median(v.toSeq) }.toSeq
    val geomean = math.exp(stepMedians.map(s => math.log(s._2)).sum / math.max(1, stepMedians.size))
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "run_wall_s" -> runWall,
      "items_per_s" -> wl.items / runWall,
      "query_geomean_s" -> geomean,
      "cpu_s" -> Stats.median(cpus.toSeq),
      "retained_heap_mb" -> heapMb)

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      def med(f: EngineStats => Double) = Stats.median(engine.map(f).toSeq)
      def count(k: String) = Stats.median(counts.map(_.getOrElse(k, 0.0)).toSeq)
      // spans of successful traced operations only
      def perOpWhere(p: String => Boolean, agg: Seq[Double] => Double): Double = {
        val byOp = tracer.spansWhere(p).filter(s => goodTraced(s.op)).groupBy(_.op)
          .values.map(s => agg(s.map(_.seconds))).toSeq
        Stats.median(byOp)
      }
      def perOp(name: String, agg: Seq[Double] => Double) = perOpWhere(_ == name, agg)
      val tracedWall = Stats.median(tracedWalls.toSeq)
      val days = count("lake.days_rebuilt")
      val jobs = med(_.jobs.toDouble)
      val operators = QuerySuite.Names.flatMap { q =>
        Seq(s"operators.$q.build_s" -> perOp(s"operators.$q.build", _.sum),
          s"operators.$q.materialize_s" -> perOp(s"operators.$q.materialize", _.sum),
          s"operators.$q.plan_s" -> count(s"operators.$q.plan_s"))
      }
      def isOperator(suffix: String)(n: String) = n.startsWith("operators.") && n.endsWith(suffix)
      Map(
        "lake.inventory_s" -> perOp("lake.inventory", _.sum),
        "lake.rebuild_day_p50_s" ->
          Stats.median(tracer.spansNamed("lake.rebuild_day").filter(s => goodTraced(s.op)).map(_.seconds)),
        "lake.rebuild_day_max_s" -> perOp("lake.rebuild_day", _.max),
        "lake.days_rebuilt" -> days,
        "lake.rebuild_month_s" -> perOp("lake.rebuild_month", _.sum),
        "lake.month_bytes_in" -> count("lake.month_bytes_in"),
        "lake.bytes_written" -> count("lake.bytes_written"),
        "lake.sink_s" -> perOp("lake.sink", _.sum),
        "operators.build_s" -> perOpWhere(isOperator(".build"), _.sum),
        "operators.materialize_s" -> perOpWhere(isOperator(".materialize"), _.sum),
        "operators.plan_s" -> Stats.median(counts.map(c =>
          c.collect { case (k, v) if isOperator(".plan_s")(k) => v }.sum).toSeq),
        "spark.jobs" -> jobs,
        "spark.stages" -> med(_.stages.toDouble),
        "spark.tasks" -> med(_.tasks.toDouble),
        "spark.jobs_per_day" -> (if (days > 0) jobs / days else 0.0),
        "spark.job_floor_s" -> floorBefore,
        "spark.job_floor_after_s" -> floorAfter,
        "spark.executor_run_s" -> med(_.executorRunS),
        "spark.executor_cpu_s" -> med(_.executorCpuS),
        "spark.gc_s" -> med(_.gcS),
        "spark.executor_busy_share" -> med(_.executorRunS) / (tracedWall * cores),
        "spark.shuffle_write_mb" -> med(_.shuffleWriteMb),
        "spark.shuffle_read_mb" -> med(_.shuffleReadMb),
        "spark.spill_mb" -> med(_.spillMb),
        "spark.input_mb" -> med(_.inputMb),
        "spark.task_skew" -> med(_.taskSkew),
        "spark.storage_mem_mb" ->
          (storage ++ counts.map(_.getOrElse("spark.storage_mem_mb", 0.0))).maxOption.getOrElse(0.0),
        "spark.plan_s" -> med(_.planS),
        "host.load1_before" -> loadBefore,
        "host.load1_after" -> loadAfter,
        "host.noisy" -> (if (noisy) 1.0 else 0.0),
        "host.steal_share" -> stealShare,
        "trace.traced_wall_s" -> tracedWall,
        "trace.overhead_s" -> (tracedWall - runWall)) ++ operators ++ ProbeNames.map(_ -> 0.0) ++ probes
    }

    if (traced) tracer.write(work.resolve("spans.jsonl"))
    val detail = Map[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "items" -> wl.items,
      "session_s" -> sessionS, "generate_s" -> generateS, "warmup_s" -> warmS,
      "walls_s" -> walls.toSeq, "cpus_s" -> cpus.toSeq, "heap_mb" -> heapMb,
      "step_medians_s" -> stepMedians.toMap,
      "traced_walls_s" -> tracedWalls.toSeq,
      "job_floor_s" -> Seq(floorBefore, floorAfter), "load1" -> Seq(loadBefore, loadAfter),
      "steal_share" -> stealShare, "noisy" -> noisy, "sha256" -> digests.toMap)
    println("perfbench_detail " + json(detail))
    reportErrors()
    oracle.foreach { case (tables, out) =>
      println("perfbench_oracle " + json(Map("queries" -> wl.items,
        "tables" -> tables.toString, "out" -> out.toString)))
    }
    val result = Map[String, Any](
      "correct" -> (failed == 0 && walls.nonEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> (if (traced) layers else e2e))
    println("perfbench_result " + json(result))
    spark.stop()
  }
}
