package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: a warmup pass initializes the JVM/codegen and populates the
  * file-listing caches, then each query is timed end-to-end with a noop-sink
  * write (full materialization of every column — `count()` would let Catalyst
  * prune the work). Each query is timed MEDIAN-OF-3 (single runs drifted
  * ±0.2 s round-over-round inside the machine-load noise band, hiding real
  * 0.1 s-scale regressions); per-query spread (max-min over the 3 runs) is
  * reported as `"spread"` on the full-precision `bench_detail` line so the
  * noise bound stays part of the artifact while the FINAL line (the
  * driver's parse target) stays under its tail window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors(), 32).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the set (perf iteration aid)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val benchQueries = Registry.all.filter(_.bench)
      .filter(q => only.forall(_.contains(q.name)))

    def materialize(q: QueryDef): Unit =
      q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // Between-run isolation (optimization guide §1.4/§5): a query's timed
    // runs must not pay for PREVIOUS invocations' garbage. Every
    // localCheckpoint is made by CheckpointScope.local, which registers it
    // with the calling thread's scope; this thread builds and runs every
    // query, so draining after each run frees the blocks of exactly that
    // run — the lifecycle a long-lived serving session uses, replacing
    // r13's System.gc() crutch (which only forced the ContextCleaner to
    // notice GC'd frames). The drain runs BETWEEN runs (never inside a
    // timed region) and leaves process-lifetime state (Tables readers,
    // staged artifacts, the pinned funnel-prep memo) untouched, so every
    // timed run still computes from the parquet inputs exactly as before.
    //
    // A query that throws is named on both output lines and left out of
    // the total, never timed as a fast run; the process then exits nonzero.
    val failed = collection.mutable.LinkedHashSet.empty[String]
    def timeOnce(q: QueryDef): Option[Double] = {
      val t0 = System.nanoTime()
      try { materialize(q); Some((System.nanoTime() - t0) / 1e9) }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] ${q.name} failed: $e")
        failed += q.name
        None
      }
      finally CheckpointScope.drain()
    }

    // warmup: JVM/codegen/scan caches (not timed)
    benchQueries.foreach(timeOnce)

    val results = benchQueries.filterNot(q => failed(q.name)).flatMap { q =>
      val runs = (1 to 3).flatMap(_ => timeOnce(q)).sorted
      if (runs.size == 3) Some((q.name, runs(1), runs(2) - runs(0))) else None
    }
    // fixed per-query floor: an empty job through the same timed path
    // (scheduler + noop-sink commit) — lets BASELINE.md separate engine
    // overhead from per-query compute when comparing against DuckDB
    def floorOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    floorOnce() // warmup
    val floor = (1 to 3).map(_ => floorOnce()).sorted.apply(1)
    val total = results.map(_._2).sum
    // Full-precision medians + per-query spread (max-min over the 3 runs,
    // the noise bound) go on their OWN line: the driver parses only the
    // LAST line and only within a bounded tail window, and the ~5 KB
    // 17-digit form exceeded it every round (BENCH_r01..r13 all stored
    // parsed:null). Humans and the builder's own tooling read this line.
    val qsFull = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"bench_detail":{"total":$total,"queries":$qsFull,"spread":$spreads,"failed":$failedJson,"floor":$floor,"runs":3,"sf":"$sfDir"}}""")
    // THE contract line, last and compact: seconds rounded to 3 decimals
    // (~0.001 s precision against a ±0.2 s host noise floor) keep the
    // whole line < 2000 chars — ~1430 for 48 queries, headroom for ~15
    // more before the driver's tail window truncates it again.
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val qs3 = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs3,"failed":$failedJson,"floor":${f3(floor)},"runs":3,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
