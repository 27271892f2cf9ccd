package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.CheckpointScope
import graft.operators.Similarity

/** Streaming vector ingest into a persisted ANN graph — the serving-side
  * companion of [[StreamingDedup.indexedIngestStream]]: embeddings arrive
  * continuously, each micro-batch is wired into the graph artifact
  * append-only, and the searchable corpus grows under `corpusDir` — the
  * pattern a 100 TB vector store runs (FreshDiskANN-style continuous
  * ingestion, here with the exact-merge contract IndexMaintenanceSpec
  * proves for the batch form).
  */
object StreamingAnn {

  /** Per micro-batch: (1) [[Similarity.appendToAnnGraph]] writes the
    * batch's delta edges into graph segment `b<id>` — the new vectors'
    * exact top-`r` lists over existing∪batch plus each existing node's
    * top-`r` candidates among the batch, so the merged read view stays
    * EQUAL to the from-scratch exact graph after every batch; (2) the
    * batch's vectors land under `corpusDir/ingest_batch=b<id>` so batch
    * N+1 (and every searcher) sees them as corpus.
    *
    * Crash/replay semantics: both writes are batchId-keyed and
    * idempotent (dynamic overwrite of the batch's own graph segment;
    * plain overwrite of its corpus partition), and the existing-corpus
    * read EXCLUDES the batch's own partition — a crashed attempt that
    * already wrote its corpus rows would otherwise pair the batch
    * against itself twice. With a checkpointLocation the result is
    * exactly-once across restarts. `compactEvery > 0` auto-compacts the
    * graph every N batches, preserving the just-appended segment's
    * identity so its replay exclusion keeps working.
    *
    * Caller seeds `corpusDir` (any base partition name other than the
    * `b<id>` space) and builds the base graph ([[Similarity.writeAnnGraph]],
    * or nnDescent + [[Similarity.writeAnnGraphLayer]] at scale) before
    * starting the stream.
    */
  def graphIngestStream(vecs: DataFrame, indexDir: String, corpusDir: String,
      r: Int = 8, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val seg = s"b$batchId"
        // checkpointed before either write: the graph append must not
        // lazily re-read a corpus directory this batch is itself mutating
        val b = CheckpointScope.local(batch.select(col("vec_id"), col("embedding")))
        val old = s.read.parquet(corpusDir)
          .filter(col("ingest_batch") =!= seg)
          .select(col("vec_id"), col("embedding"))
        Similarity.appendToAnnGraph(s, indexDir, b, old, r,
          seg = seg, overwriteSeg = true)
        b.write.mode("overwrite").parquet(s"$corpusDir/ingest_batch=$seg")
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          Similarity.compactAnnGraph(s, indexDir, r, preserveSegs = Set(seg))
        CheckpointScope.drain()
    }

  /** Marker file an auto-artifact ingest leaves once the corpus outgrows
    * the artifact's entry bound — deployments watch for it the way they
    * watch a compaction backlog.
    */
  val RebuildMarker = "_REBUILD_NEEDED"

  /** Streaming ingest into the AUTO-strided hierarchy
    * ([[Similarity.writeHnswAutoArtifact]]): per micro-batch the vectors
    * wire into every layer graph at the artifact's own stride and the
    * `vec_id % s³ == 0` members append to the persisted entry table, all
    * in batch-keyed segments ([[Similarity.insertIntoHnswAutoGraph]]) —
    * the same crash/replay contract as [[graphIngestStream]]: batchId-
    * keyed dynamic overwrites, the existing-corpus read excludes the
    * batch's own partition, exactly-once with a checkpointLocation.
    *
    * ENTRY-BOUND EXPIRY, surfaced loudly: the build solved the stride s
    * for the corpus it saw, and the ≤[[Similarity.HnswTopTarget]]-row
    * entry guarantee holds only while n ≤ s³·target. Once a batch pushes
    * the corpus past that, this stream writes `$graphDir/_REBUILD_NEEDED`
    * (n, bound, stride — overwritten each batch, so replays are
    * idempotent) and logs a warning; probe CORRECTNESS never depends on
    * the bound, so ingest continues — but serving cost starts growing
    * with n until the artifact is rebuilt (standard index-rebuild
    * hygiene). Deployments alert on the marker.
    */
  def autoGraphIngestStream(vecs: DataFrame, graphDir: String,
      corpusDir: String): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val seg = s"b$batchId"
        val b = CheckpointScope.local(batch.select(col("vec_id"), col("embedding")))
        val old = s.read.parquet(corpusDir)
          .filter(col("ingest_batch") =!= seg)
          .select(col("vec_id"), col("embedding"))
        Similarity.insertIntoHnswAutoGraph(s, graphDir, b, old,
          seg = seg, overwriteSeg = true)
        b.write.mode("overwrite").parquet(s"$corpusDir/ingest_batch=$seg")
        val st = s.read.parquet(s"$graphDir/meta").head().getAs[Long]("stride")
        val bound = st * st * st * Similarity.HnswTopTarget
        val n = s.read.parquet(corpusDir).count()
        if (n > bound) {
          val msg = s"corpus $n rows exceeds entry bound $bound " +
            s"(stride $st): rebuild the auto artifact"
          System.err.println(s"[graft] WARN autoGraphIngestStream: $msg")
          val p = new org.apache.hadoop.fs.Path(s"$graphDir/$RebuildMarker")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          val out = fs.create(p, true)
          try out.write(s"n=$n bound=$bound stride=$st\n".getBytes("UTF-8"))
          finally out.close()
        }
        CheckpointScope.drain()
    }
}
