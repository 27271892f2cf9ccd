package graft.streaming

import graft.CheckpointScope
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate candidate mining: the incremental twin of
  * `Dedup.lshCandidatePairs` for a corpus that arrives as a stream (the
  * ingest side of a training-data pipeline, where waiting for a full batch
  * re-clustering per drop is the thing to avoid).
  *
  * Shape: the same narrow codegen'd projection as batch (native minhash
  * signature → 4×16-hex band keys), then ONE hash partition on (band, key)
  * into `flatMapGroupsWithState` whose per-bucket state is the member list
  * `(doc_id, carry)` capped at `maxBucket` — so state per key is bounded by
  * the same constant that bounds batch bucket work, and a new arrival emits
  * pairs against current members bucket-locally (never all-pairs).
  *
  * Pairs are born unique EXACTLY as in batch: a pair is emitted only from
  * its FIRST matching band, decided from the two carries alone
  * (`bandKey(a, b') == bandKey(b, b')` for any earlier band b'), so a pair
  * whose earliest shared band lives in some other bucket is suppressed
  * here — no cross-bucket dedup pass, no retraction, and the emitted set
  * equals batch `lshCandidatePairs` whenever no bucket exceeds the cap
  * (StreamingDedupSpec pins the equality).
  *
  * Documented divergence under the cap: batch drops an over-cap bucket
  * RETROACTIVELY (it sees the final size; zero pairs emitted), while a
  * stream cannot retract — this operator stops ADMITTING members once a
  * bucket is full, so pairs among the first `maxBucket` arrivals survive.
  * Same bounded-work guarantee, prospective instead of retrospective.
  *
  * State lifetime: candidate mining wants bucket membership for the whole
  * corpus ingest, so the default keeps state until the query ends
  * (NoTimeout) — bounded at maxBucket × key-cardinality like the batch
  * shuffle. A TTL'd deployment (continuous ingest over an unbounded
  * corpus) would add a watermark + EventTimeTimeout exactly like
  * [[Sessionize]]; the admission/emission logic is unchanged.
  */
object StreamingDedup {

  final case class BandArrival(doc_id: Long, ak: String, band: Int, key: String)
  final case class BandArrivalTs(doc_id: Long, ak: String, band: Int, key: String,
      ts: java.sql.Timestamp)
  final case class BucketState(members: List[(Long, String)])
  final case class CandPair(id_a: Long, id_b: Long)

  private val Bands = 4

  /** 16-hex band-b key of the 64-hex minhash key-concat carry. */
  private def bandKeyOf(ak: String, b: Int): String = ak.substring(16 * b, 16 * b + 16)

  /** Shared banding projection: native minhash → key-concat carry →
    * when-gated band posexplode (NULL signature for a sub-k-word doc emits
    * no band rows; never filter on the expensive expr — it would be pushed
    * below the projection and recomputed per row).
    */
  private def bandRowsOf(docs: DataFrame, textCol: String, shingleK: Int,
      extra: Seq[(org.apache.spark.sql.Column, String)]): DataFrame =
    docs
      .withColumn("__mhs",
        graft.plans.MinhashSigExpr.minhashSig8Native(col(textCol), shingleK))
      .select((col("doc_id").cast("long").as("doc_id") +:
        concat((1 to 8).map(j => element_at(col("__mhs"), j)): _*).as("ak") +:
        extra.map { case (c, n) => c.as(n) }): _*)
      .select((col("doc_id") +: col("ak") +:
        posexplode(when(col("ak").isNotNull,
          array((0 until Bands).map(b => substring(col("ak"), 16 * b + 1, 16)): _*)))
          .as(Seq("band", "key")) +: extra.map(x => col(x._2))): _*)

  /** The shared per-bucket arrival fold: admit up to `maxBucket` members
    * (micro-batch slice sorted like the batch operator's bucket structs),
    * emit each admitted arrival's pairs against current members under the
    * batch first-matching-band rule (an earlier shared band owns the pair).
    */
  private def foldArrivals(band: Int, arrivals: Seq[(Long, String)],
      members0: List[(Long, String)], maxBucket: Int)
      : (List[(Long, String)], Seq[CandPair]) = {
    var members = members0
    val out = Seq.newBuilder[CandPair]
    arrivals.sortBy(identity).foreach { case (id, ak) =>
      if (members.size < maxBucket && !members.exists(_._1 == id)) {
        members.foreach { case (mid, mak) =>
          val earlier = (0 until band).exists(b =>
            bandKeyOf(mak, b) == bandKeyOf(ak, b))
          if (!earlier) out += CandPair(math.min(mid, id), math.max(mid, id))
        }
        members = (id, ak) :: members
      }
    }
    (members, out.result())
  }

  /** docs: a (possibly streaming) DataFrame with `doc_id` and a text
    * column. Emits candidate pairs (id_a < id_b) incrementally. State per
    * bucket lives for the query lifetime (corpus-ingest mode); see
    * [[lshCandidatePairsStreamTtl]] for the unbounded-ingest variant.
    */
  def lshCandidatePairsStream(docs: DataFrame, textCol: String = "text",
      shingleK: Int = 3, maxBucket: Int = Dedup.MaxBucket): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandRowsOf(docs, textCol, shingleK, Nil).as[BandArrival]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          val (members, out) = foldArrivals(band,
            rows.map(r => (r.doc_id, r.ak)).toSeq,
            state.getOption.map(_.members).getOrElse(Nil), maxBucket)
          state.update(BucketState(members))
          out.iterator
      }
  }

  /** Streaming ingest dedup against the PERSISTED band index
    * ([[graft.operators.Dedup.writeBandIndex]]): every micro-batch is
    * probed with [[graft.operators.Dedup.incrementalKeptIndexed]] — corpus
    * TEXT read zero times, index read pruned to the batch's touched
    * (band, key-prefix) partitions — then the accepted rows land in
    * `acceptedDir` and their band rows APPEND to the index, so batch N+1
    * sees batch N as existing corpus. This is the streaming form of the
    * accept-then-append protocol IncrementalIndexSpec pins for batch.
    *
    * The kept set is checkpointed eagerly BEFORE either write: the index
    * append must not re-run the probe plan against the index directory it
    * is itself mutating. The batch drains its checkpoints when it ends.
    *
    * Crash/replay semantics: both writes are batchId-keyed and IDEMPOTENT,
    * so with a checkpointLocation the accepted sink is exactly-once across
    * restarts. Accepted rows land under `acceptedDir/ingest_batch=b<id>/`
    * (overwrite — read `acceptedDir` as one partitioned table); band rows
    * land in index segment `b<id>` via a dynamic partition overwrite of
    * that segment alone. A replayed batch recomputes the SAME kept set
    * because the probe excludes its own segment (a crashed attempt's
    * partial band rows would otherwise make the batch collide with
    * itself), then overwrites both outputs in place.
    *
    * Returns the configured writer — caller picks trigger/checkpoint and
    * starts (AvailableNow for drain-style runs).
    */
  def indexedIngestStream(docs: DataFrame, indexDir: String,
      acceptedDir: String, idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val seg = s"b$batchId"
        val kept = CheckpointScope.local(Dedup.incrementalKeptIndexed(
            batch.sparkSession, indexDir, batch, idCol, textCol,
            excludeSeg = Some(seg)))
        kept.write.mode("overwrite").parquet(s"$acceptedDir/ingest_batch=$seg")
        Dedup.appendBandIndex(kept, indexDir, idCol, textCol,
          seg = seg, overwriteSeg = true)
        // auto-compact every N batches so an unbounded ingest never
        // accumulates unbounded segment file-sets (VERDICT r7 #3). The
        // just-appended segment keeps its identity through the rewrite —
        // replay idempotence (its seg exclusion) is preserved; a crash
        // during compaction leaves the old directory intact (tmp rewrite +
        // atomic swap inside compactBandIndex).
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          Dedup.compactBandIndex(batch.sparkSession, indexDir,
            preserveSegs = Set(seg))
        CheckpointScope.drain()
    }

  /** Unbounded-ingest variant: bucket state expires after `stateTtl` of
    * inactivity (event-time timeout against the `tsCol` watermark, the
    * [[Sessionize]] pattern), so a continuously-running dedup stream holds
    * state only for recently-active buckets — documents older than the TTL
    * no longer pair with new arrivals, which is the usual dedup-window
    * contract for rolling ingest. Admission/emission logic is identical to
    * [[lshCandidatePairsStream]].
    */
  def lshCandidatePairsStreamTtl(docs: DataFrame, tsCol: String,
      stateTtl: String = "30 minutes", textCol: String = "text",
      shingleK: Int = 3, maxBucket: Int = Dedup.MaxBucket): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(stateTtl))
      require(iv.months == 0, "stateTtl must be a fixed duration")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    bandRowsOf(docs, textCol, shingleK, Seq(col(tsCol) -> "ts"))
      .withWatermark("ts", stateTtl)
      .as[BandArrivalTs]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arr = rows.toSeq
            val (members, out) = foldArrivals(band,
              arr.map(r => (r.doc_id, r.ak)),
              state.getOption.map(_.members).getOrElse(Nil), maxBucket)
            state.update(BucketState(members))
            state.setTimeoutTimestamp(arr.map(_.ts.getTime).max + ttlMs)
            out.iterator
          }
      }
  }
}
