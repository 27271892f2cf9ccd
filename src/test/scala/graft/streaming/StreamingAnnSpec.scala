package graft.streaming

import graft.operators.Similarity
import graft.vpts.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vector ingest into the persisted ANN graph
  * ([[StreamingAnn.graphIngestStream]]): after every micro-batch the
  * merged graph view must EQUAL the from-scratch exact graph of
  * everything ingested so far (the batch-maintenance contract, live
  * inside a stream), auto-compaction must not disturb it, and a replayed
  * batch (crash retry) must be a no-op on the view.
  */
class StreamingAnnSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("u", "v", "nd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed graph ingest stays equal to the exact rebuild; compaction and replay are invisible") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val e = graft.Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") < 400).select(col("vec_id"), col("embedding"))
    def rows(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
    val b1 = rows(400, 450)
    val b2 = rows(450, 500)

    val tmp = java.nio.file.Files.createTempDirectory("stream-ann")
    val idx = s"$tmp/graph"; val corpus = s"$tmp/corpus"
    Similarity.writeAnnGraph(base, idx, 8)
    base.write.parquet(s"$corpus/ingest_batch=base")

    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.graphIngestStream(
        input.toDF().toDF("vec_id", "embedding"), idx, corpus,
        r = 8, compactEvery = 2)
      .start()
    input.addData(b1: _*); q.processAllAvailable()
    val after1 = edgeSet(Similarity.readAnnGraphLayer(spark, idx, 8))
    val want1 = edgeSet(Similarity.knnGraphEdges(e.filter(col("vec_id") < 450), 8))
    assert(after1 == want1, "view diverged from exact rebuild after batch 0")
    input.addData(b2: _*); q.processAllAvailable() // batchId 1 -> auto-compact fires
    q.stop()
    val want2 = edgeSet(Similarity.knnGraphEdges(e, 8))
    assert(edgeSet(Similarity.readAnnGraphLayer(spark, idx, 8)) == want2,
      "view diverged from exact rebuild after batch 1 (+ compaction)")
    // the compaction collapsed batch-0's segment but PRESERVED batch-1's
    val segs = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName).distinct.sorted.toSeq
    assert(segs == Seq("seg=b1", "seg=base"), s"unexpected segments: $segs")
    // crash-retry: replay batch 1's append verbatim — the dynamic
    // overwrite of its own segment must leave the merged view unchanged
    val old = spark.read.parquet(corpus)
      .filter(col("ingest_batch") =!= "b1")
      .select(col("vec_id"), col("embedding"))
    Similarity.appendToAnnGraph(spark, idx, b2.toDF("vec_id", "embedding"),
      old, 8, seg = "b1", overwriteSeg = true)
    assert(edgeSet(Similarity.readAnnGraphLayer(spark, idx, 8)) == want2,
      "replayed batch changed the merged view")
    // the streamed corpus is the full vector set
    assert(spark.read.parquet(corpus).count() == 500L)
  }

  test("auto-artifact ingest: stream == sequential inserts, replay-idempotent, bound expiry surfaced") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val e = graft.Tables.embeddings(spark, sfDir)
    val base = e.filter(col("vec_id") < 400).select(col("vec_id"), col("embedding"))
    def rows(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
    val b1 = rows(400, 450)
    val b2 = rows(450, 500)
    // synthetic third batch pushes the corpus past the entry bound
    // (400 rows solve stride 2 -> bound 2^3*64 = 512; 550 > 512)
    val b3 = rows(0, 50).map { case (id, v) => (id + 500L, v) }

    val tmp = java.nio.file.Files.createTempDirectory("stream-ann-auto")
    val streamed = s"$tmp/g_stream"; val seqd = s"$tmp/g_seq"
    val corpus = s"$tmp/corpus"
    val st = Similarity.writeHnswAutoArtifact(base, streamed)
    assert(st == 2, s"400-vector base should solve stride 2, got $st")
    Similarity.writeHnswAutoArtifact(base, seqd)
    base.write.parquet(s"$corpus/ingest_batch=base")

    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnn.autoGraphIngestStream(
        input.toDF().toDF("vec_id", "embedding"), streamed, corpus).start()
    input.addData(b1: _*); q.processAllAvailable()
    assert(!new java.io.File(s"$streamed/${StreamingAnn.RebuildMarker}").exists(),
      "bound marker appeared below the entry bound (450 <= 512)")
    input.addData(b2: _*); q.processAllAvailable()
    assert(!new java.io.File(s"$streamed/${StreamingAnn.RebuildMarker}").exists(),
      "bound marker appeared below the entry bound (500 <= 512)")
    input.addData(b3: _*); q.processAllAvailable()
    q.stop()
    // bound expiry surfaced: 550 > 512
    val marker = s"$streamed/${StreamingAnn.RebuildMarker}"
    assert(new java.io.File(marker).exists(), "bound crossing left no marker")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(marker)), "UTF-8")
    assert(body.contains("n=550") && body.contains("bound=512"),
      s"marker should carry n and bound: $body")

    // twin: the same three batches applied as sequential batch inserts
    var acc = base
    for ((batch, seg) <- Seq((b1, "b0"), (b2, "b1"), (b3, "b2"))) {
      val bdf = batch.toDF("vec_id", "embedding")
      Similarity.insertIntoHnswAutoGraph(spark, seqd, bdf, acc, seg = seg)
      acc = acc.unionByName(bdf)
    }
    for ((layer, r) <- Seq(("layer0", 8), ("layer1", 4), ("layer2", 2))) {
      val a = edgeSet(Similarity.readAnnGraphLayer(spark, s"$streamed/$layer", r))
      val b = edgeSet(Similarity.readAnnGraphLayer(spark, s"$seqd/$layer", r))
      assert(a == b, s"$layer: streamed view != sequential-insert view")
    }
    def entrySet(dir: String): Set[(Long, String)] =
      spark.read.parquet(s"$dir/entry").select("vec_id", "seg").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(entrySet(streamed) == entrySet(seqd),
      "entry tables diverged between stream and sequential inserts")

    // crash-retry: replay batch 2's insert verbatim — dynamic overwrite
    // of its own segments leaves every view unchanged
    val old = spark.read.parquet(corpus)
      .filter(col("ingest_batch") =!= "b2")
      .select(col("vec_id"), col("embedding"))
    Similarity.insertIntoHnswAutoGraph(spark, streamed,
      b3.toDF("vec_id", "embedding"), old, seg = "b2", overwriteSeg = true)
    for ((layer, r) <- Seq(("layer0", 8), ("layer1", 4), ("layer2", 2))) {
      val a = edgeSet(Similarity.readAnnGraphLayer(spark, s"$streamed/$layer", r))
      val b = edgeSet(Similarity.readAnnGraphLayer(spark, s"$seqd/$layer", r))
      assert(a == b, s"$layer: replayed batch changed the merged view")
    }
    assert(entrySet(streamed) == entrySet(seqd),
      "replayed batch changed the entry table")

    // the probe still serves over the grown corpus
    val full = spark.read.parquet(corpus).select(col("vec_id"), col("embedding"))
    val got = Similarity.hnswProbe(spark, streamed, full, 0L, 5)
    assert(got.count() == 5L, "auto probe failed over the streamed artifact")
  }
}
