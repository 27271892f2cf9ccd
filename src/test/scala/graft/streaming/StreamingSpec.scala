package graft.streaming

import graft.vpts.{SparkTestSession, VpLakeFixture}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming/batch parity and multimodal plumbing checks on sf0.001. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private lazy val vpDir = VpLakeFixture.fullLake(VpLakeFixture.ReferenceVpLayout)

  test("AvailableNow streaming tumbling agg equals the batch query") {
    val streamed = EventStream.runAvailableNow(spark, sfDir, "stream_tumbling_test")
      .orderBy("wstart", "event_type").collect().map(_.toSeq)
    val batch = graft.operators.Analytics.qStreamTumbling(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream interval join buffers within watermark bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val joined = EventStream.purchasesWithRecentClicks(
      purchases.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join_test").start()
    // click at 10:05, purchase at 10:30 (same user) -> in the 1h window
    clicks.addData((7L, ts(5)), (8L, ts(6)))
    purchases.addData((7L, ts(30)))
    q.processAllAvailable()
    val rows = spark.table("ss_join_test").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 7L)
    // purchase with no prior click from that user joins nothing (inner join)
    purchases.addData((9L, ts(40)))
    q.processAllAvailable()
    assert(spark.table("ss_join_test").count() == 1)
    q.stop()
  }

  test("streaming dedup drops duplicate event_ids across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val deduped = EventStream.dedupByEventId(
      input.toDF().toDF("event_id", "ts", "value"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_test").start()
    // batch 1: ids 1,2 plus an in-batch duplicate of 1
    input.addData((1L, ts(0), 1.0), (2L, ts(1), 2.0), (1L, ts(1), 9.0))
    q.processAllAvailable()
    assert(spark.table("dedup_stream_test").count() == 2)
    // batch 2: id 1 again within the watermark -> dropped; id 3 new -> kept
    input.addData((1L, ts(2), 9.0), (3L, ts(3), 3.0))
    q.processAllAvailable()
    val ids = spark.table("dedup_stream_test")
      .select(col("event_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("streaming ODIM ingestion equals the batch conversion") {
    val dir = vpDir.toString
    val streamed = OdimStream.drainAvailable(spark, dir, "odim_stream_test")
    val batch = graft.vpts.Vpts.vpts(spark, Seq(dir))
    assert(streamed.count() == 150)
    val s = streamed.collect().map(_.toSeq.mkString("|")).sorted
    val b = batch.collect().map(_.toSeq.mkString("|")).sorted
    assert(s.sameElements(b))
  }

  test("streaming ODIM ingestion skips a non-ODIM file like the batch conversion") {
    val dir = VpLakeFixture.fullLake(VpLakeFixture.nostaDay(2))
    java.nio.file.Files.write(dir.resolve("dummy.h5"), VpLakeFixture.nonOdimBytes)
    val streamed = OdimStream.drainAvailable(spark, dir.toString, "odim_stream_skip_test")
    val batch = graft.vpts.Vpts.vpts(spark, Seq(dir.toString), failFast = false)
    assert(streamed.count() == 50)
    val s = streamed.collect().map(_.toSeq.mkString("|")).sorted
    val b = batch.collect().map(_.toSeq.mkString("|")).sorted
    assert(s.sameElements(b))
  }

  test("streaming lake materialization: day partitions + incremental restart") {
    val lake = java.nio.file.Files.createTempDirectory("streamlake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val in = java.nio.file.Files.createTempDirectory("in")
    // first arrival: one bejab file
    val src = vpDir.resolve("bejab/2022/11/11")
    val files = java.nio.file.Files.list(src).sorted.toArray
      .map(_.asInstanceOf[java.nio.file.Path])
    java.nio.file.Files.copy(files(0), in.resolve(files(0).getFileName))
    OdimStream.writeToLake(spark, in.toString, lake, ckpt)
    val afterFirst = graft.lake.VptsLakeWriter.read(spark, lake).count()
    assert(afterFirst == 25)
    // late arrival: second file, SAME day -> the checkpoint makes only the
    // new file part of the micro-batch, but the whole-day rebuild re-lists
    // the prefix and re-derives the day from BOTH files before the dynamic
    // partition overwrite (reference semantics: a late file merges, it does
    // not replace the day)
    java.nio.file.Files.copy(files(1), in.resolve(files(1).getFileName))
    OdimStream.writeToLake(spark, in.toString, lake, ckpt)
    val back = graft.lake.VptsLakeWriter.read(spark, lake)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$lake/p_radar=bejab/p_year=2022/p_month=11/p_day=11")))
    assert(back.count() == 50)
    // both source files present in the rebuilt day partition
    assert(back.select("source_file").distinct().count() == 2)
  }

  test("streaming lake exactly-once: crash after rebuild, restart replays idempotently") {
    val lake = java.nio.file.Files.createTempDirectory("xolake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("xockpt").toString
    val in = java.nio.file.Files.createTempDirectory("xoin")
    val src = vpDir.resolve("bejab/2022/11/11")
    val files = java.nio.file.Files.list(src).sorted.toArray
      .map(_.asInstanceOf[java.nio.file.Path])
    java.nio.file.Files.copy(files(0), in.resolve(files(0).getFileName))

    // crash at the worst point: day rebuild applied, checkpoint NOT
    // committed — the batch will replay on restart
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      OdimStream.writeToLake(spark, in.toString, lake, ckpt,
        afterRebuild = _ =>
          if (crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash before checkpoint commit"))
    }
    assert(ex.getMessage.contains("injected crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected crash")))
    // the effect landed before the crash (this is what makes the retry a
    // true replay, not a first run)
    assert(graft.lake.VptsLakeWriter.read(spark, lake).count() == 25)

    // restart from the same checkpoint: the uncommitted batch replays, the
    // idempotent whole-day rebuild converges to the same state — no
    // duplicated and no lost rows vs the batch conversion
    OdimStream.writeToLake(spark, in.toString, lake, ckpt)
    val afterReplay = graft.lake.VptsLakeWriter.read(spark, lake)
    assert(afterReplay.count() == 25)
    val batchRows = graft.vpts.Vpts
      .vpts(spark, Seq(in.resolve(files(0).getFileName).toString), failFast = false)
      .count()
    assert(afterReplay.count() == batchRows)

    // a later file still merges (checkpoint advanced past the replay)
    java.nio.file.Files.copy(files(1), in.resolve(files(1).getFileName))
    OdimStream.writeToLake(spark, in.toString, lake, ckpt)
    assert(graft.lake.VptsLakeWriter.read(spark, lake).count() == 50)
  }

  test("media pipeline: typed decode plumbing is deterministic and complete") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
    val meta = graft.multimodal.MediaPipeline.decodeMeta(docs).collect()
    assert(meta.length == docs.count())
    val m0 = meta.minBy(_.media_id)
    assert(m0.n_bytes > 0 && m0.digest.length == 32 &&
      m0.features.length == graft.multimodal.MediaPipeline.StubDecoder.FeatureDim)
    // deterministic across runs (field-wise: case-class eq is reference-based
    // for the array member)
    val again = graft.multimodal.MediaPipeline.decodeMeta(docs).collect().minBy(_.media_id)
    assert(m0.n_bytes == again.n_bytes && m0.digest == again.digest &&
      m0.width == again.width && m0.height == again.height &&
      m0.features.sameElements(again.features))

    val frames = graft.multimodal.MediaPipeline.sampleFrames(docs).collect()
    assert(frames.nonEmpty && frames.forall(_.frame_no % 4 == 0))
  }
}
