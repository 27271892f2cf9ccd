package graft.streaming

import graft.vpts.{SparkTestSession, VpLakeFixture}
import org.scalatest.funsuite.AnyFunSuite

class SessionizeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("batch sessionization agrees with the session_window query") {
    import org.apache.spark.sql.functions._
    val got = Sessionize.sessionizeBatch(spark, sfDir)
      .toDF()
      .select(col("user_id"), col("start_micros"), col("n"))
      .orderBy(col("user_id"), col("start_micros"))
      .collect().map(_.toSeq)
    val want = graft.operators.Analytics.qSessionWindow(spark, sfDir)
      .select(col("user_id"),
        unix_micros(to_timestamp(col("sstart"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as("start_micros"),
        col("n"))
      .orderBy(col("user_id"), col("start_micros"))
      .collect().map(_.toSeq)
    assert(got.length == want.length && got.length > 0)
    assert(got.toSeq == want.toSeq)
  }

  test("stateful streaming: sessions survive micro-batch boundaries and idle sessions time out") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Sessionize.Event]
    // watermark delay 0: watermark == max event time, so timeouts fire as
    // soon as a later batch advances event time past last + gap
    val q = Sessionize.sessionize(input.toDS(), watermarkDelay = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_test")
      .start()
    val min = 60L * 1000 * 1000 // micros
    val t0 = 1700000000L * 1000 * 1000 // base off epoch: the initial watermark
                                       // is epoch 0 and drops events at/below it
    // batch 1: user 1 at t0 and t0+10min (one open session); user 2 at t0
    input.addData(Sessionize.Event(1, t0, 1.0), Sessionize.Event(1, t0 + 10 * min, 2.0),
      Sessionize.Event(2, t0, 5.0))
    q.processAllAvailable()
    assert(spark.table("sessions_test").count() == 0) // nothing closed yet
    // batch 2: user 1 at t=45min -> gap > 30min closes user 1's first
    // session; the watermark advance to 45min then triggers a no-data batch
    // in which user 2's idle session (timeout at 0 + 30min) flushes via
    // EventTimeTimeout
    input.addData(Sessionize.Event(1, t0 + 45 * min, 3.0))
    q.processAllAvailable()
    val closed = spark.table("sessions_test").as[Sessionize.Session].collect()
      .map(s => (s.user_id, s.start_micros, s.end_micros, s.n, s.sum_value)).toSet
    assert(closed == Set(
      (1L, t0, t0 + 10 * min, 2L, 3.0),
      (2L, t0, t0, 1L, 5.0)))
    // batch 3: user 1 at t=100min closes the 45min session by the gap rule;
    // user 1's new open session (timeout 130min) stays in state
    input.addData(Sessionize.Event(1, t0 + 100 * min, 4.0))
    q.processAllAvailable()
    val all = spark.table("sessions_test").as[Sessionize.Session].collect()
      .map(s => (s.user_id, s.start_micros, s.end_micros, s.n, s.sum_value)).toSet
    assert(all == Set(
      (1L, t0, t0 + 10 * min, 2L, 3.0),
      (1L, t0 + 45 * min, t0 + 45 * min, 1L, 3.0),
      (2L, t0, t0, 1L, 5.0)))
    q.stop()
  }

  test("partitioned lake writer round-trips with pruning layout") {
    val dir = java.nio.file.Files.createTempDirectory("vptslake").toString
    val vpDir = VpLakeFixture.fullLake(VpLakeFixture.ReferenceVpLayout).toString
    val df = graft.vpts.Vpts.vpts(spark, Seq(vpDir))
    graft.lake.VptsLakeWriter.writePartitioned(df, dir)
    // layout: p_radar=bejab/p_year=2022/p_month=11/p_day=11
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$dir/p_radar=bejab/p_year=2022/p_month=11/p_day=11")))
    val back = graft.lake.VptsLakeWriter.read(spark, dir)
    assert(back.count() == 150)
    import org.apache.spark.sql.functions._
    val pruned = back.filter(col("p_radar") === "bewid")
    assert(pruned.count() == 25)
    // partition pruning visible in the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || pruned.inputFiles.length == 1)
  }
}
