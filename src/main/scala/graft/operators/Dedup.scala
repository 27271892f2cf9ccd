package graft.operators

import graft.{CheckpointScope, QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.EmbeddingFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline: exact
  * (hash-groupBy), MinHash signatures, banded-LSH candidate pairs, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: signatures/fingerprints are computed as narrow codegen'd
  * projections (no shuffle, no UDF); the only shuffles are the final
  * group-by-hash or bucket-join, which key on short fixed-width strings. At
  * 100 TB every pair-producing operator goes through banded-LSH bucketing
  * (never all-pairs): candidate pairs are generated bucket-locally on a
  * high-cardinality (band, key) join key, and the exact measure (Jaccard,
  * cosine, hamming) is computed only on candidates. Buckets are capped at
  * [[MaxBucket]] ids — a hot key (e.g. a boilerplate near-constant document
  * repeated millions of times) would otherwise emit B²/2 pairs from one
  * bucket and both skew the shuffle and blow up the output; the cap bounds
  * the worst bucket's work, trading recall on degenerate mass-duplicate
  * clusters (which exact dedup already catches by content hash).
  */
object Dedup {

  /** Bucket-size cap for all banded pair generation (skew/quadratic guard). */
  val MaxBucket = 64

  /** Within-bucket candidate-pair generation (library API — the fixed
    * oracle queries delegate here with the module constants). Input: one
    * row per (id, band, key) plus `carryCol`, a FLAT scalar (a fixed-width
    * key-concat string, or the raw signature long) from which every band's
    * key can be re-derived. One shuffle on (band, key); (id, carry) structs
    * in a bucket are collected sorted and ordered pairs (a < b) are emitted
    * bucket-locally, so the plan never contains an all-pairs join.
    *
    * Pairs are born unique: a pair is emitted only from its FIRST matching
    * band — `bandMatch(aCarry, bCarry, b)` must decide "do these two ids
    * share band b's key?" as a scalar expression, and a pair produced at
    * band `band` is kept iff no earlier band also matches. This replaces a
    * former `.distinct()` over the exploded pair stream — a full second
    * exchange on the pair set — with a handful of codegen'd scalar
    * comparisons and zero extra shuffle. (A flat scalar carry is
    * deliberate: a per-band key ARRAY in the bucket struct forces
    * interpreted orderings and array-lambda filters — measured 3.4× slower
    * than this form at sf0.1.)
    *
    * Buckets larger than `maxBucket` are dropped entirely (see class doc).
    * Combined with first-match emission the cap semantics are: a pair
    * survives iff the bucket of its first matching band is within the cap —
    * a pair whose canonical (first-match) bucket is a dropped hot bucket is
    * NOT resurrected by a later band. That is the same recall trade the cap
    * already makes, applied at pair granularity, and the oracle SQL twins
    * express exactly this rule.
    */
  def bucketPairs(exploded: DataFrame, idCol: String, carryCol: String,
                  outA: String, outB: String, nBands: Int,
                  bandMatch: (Column, Column, Int) => Column,
                  maxBucket: Int = MaxBucket,
                  carryOut: Option[(String, String)] = None): DataFrame = {
    val pairs = exploded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col(idCol).as("i"), col(carryCol).as("c")))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(col("band"), explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
    val earlierMatch = (0 until nBands - 1).map { b =>
      (col("band") > b) && bandMatch(col("p.a.c"), col("p.b.c"), b)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val kept = pairs.filter(!earlierMatch)
    // carryOut also emits both carries: a consumer scoring pairs from the
    // signatures alone ([[qJaccardEstimate]]) then needs NO join back to
    // the corpus — the signatures already travelled inside the buckets
    carryOut match {
      case Some((ca, cb)) =>
        kept.select(col("p.a.i").as(outA), col("p.b.i").as(outB),
          col("p.a.c").as(ca), col("p.b.c").as(cb))
      case None =>
        kept.select(col("p.a.i").as(outA), col("p.b.i").as(outB))
    }
  }

  /** Band-b key of a minhash key-concat string (16 hex chars per band). */
  private def mhBandKey(ak: Column, b: Int): Column =
    substring(ak, 16 * b + 1, 16)

  /** bandMatch for minhash key-concat carries. */
  private def mhBandMatch(a: Column, bb: Column, b: Int): Column =
    mhBandKey(a, b) === mhBandKey(bb, b)

  /** Library API: banded-MinHash LSH candidate pairs over any corpus frame
    * — `df` needs an id column and a text column; everything else is a
    * parameter (the oracle query [[qLshCandidates]] is this with the module
    * constants over the documents table).
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = ShingleK, maxBucket: Int = MaxBucket): DataFrame =
    bucketPairs(bandRowsGeneric(df, idCol, textCol, shingleK),
      "__id", "ak", "id_a", "id_b", 4, mhBandMatch, maxBucket)

  /** Incremental near-dup ingestion: the subset of `incoming` documents
    * that do NOT LSH-collide with the `existing` corpus or with a
    * smaller-id incoming document. This is the operator a continuously-fed
    * training pipeline runs per batch — dedup the delta against the
    * corpus, never the corpus against itself.
    *
    * Semantics: existing documents ALWAYS win (they are already in the
    * corpus); an incoming document drops iff it shares a capped LSH band
    * bucket (same first-matching-band + [[MaxBucket]] rules as
    * [[lshCandidatePairs]]) with any existing document or any smaller-id
    * incoming document. Implemented by tagging incoming ids with a high
    * bit (2^62) so the shared [[bucketPairs]] bucket sort ranks every
    * existing doc before every incoming doc — a pair's `b` side is
    * incoming exactly when a drop is required, with zero changes to the
    * pair machinery.
    *
    * Scale design (the 100 TB batch-ingest shape): the existing corpus
    * contributes band rows in index form — at scale these are a PERSISTED
    * (band, key, id, ak) parquet index, not a re-scan (derive once with
    * [[lshCandidatePairs]]'s banding and append each accepted batch) —
    * and the batch's distinct (band, key) set LEFT-SEMI-prunes that index
    * before any bucket work, so a batch of B docs touches O(B x bands)
    * buckets of the index regardless of corpus size. Pruning cannot
    * change results: every bucket containing an incoming doc is by
    * definition touched, untouched buckets can only produce
    * existing-existing pairs, and a touched bucket keeps ALL its members
    * (so cap decisions match the unpruned computation the oracle runs).
    */
  def incrementalKept(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = ShingleK, maxBucket: Int = MaxBucket): DataFrame = {
    val ex = existing.select(guardId(col(idCol).cast("long")).as(idCol), col(textCol))
    probeIncremental(bandRowsGeneric(ex, idCol, textCol, shingleK),
      incoming, idCol, textCol, shingleK, maxBucket)
  }

  /** The id-tag bit separating incoming from existing ids in the shared
    * bucket machinery: existing ids sort before `id + NewTag` for every
    * valid id, so a pair's `b` side is incoming iff `>= NewTag`.
    */
  private val NewTag = 1L << 62

  /** Ids MUST be in [0, 2^62): a negative or >= 2^62 id would land in (or
    * collide with) the other side's tagged range and silently mis-rank the
    * existing-wins ordering. Fail fast instead — a codegen'd range check
    * that raises on the first offending row.
    */
  private def guardId(c: Column): Column =
    when(c.isNull || c < 0 || c >= NewTag,
      raise_error(concat(lit("incremental dedup: id must be in [0, 2^62), got "),
        c.cast("string")))).otherwise(c)

  /** Shared incremental-dedup probe: given the EXISTING corpus in band-row
    * form (a live [[bandRowsGeneric]] scan, or rows read back from a
    * persisted band index) and the incoming batch, return the accepted
    * subset of `incoming`. Pruning to the batch's touched (band, key)
    * buckets cannot change results — see [[incrementalKept]]'s scale note.
    */
  private def probeIncremental(exRows: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleK: Int, maxBucket: Int): DataFrame = {
    val in = incoming.select((guardId(col(idCol).cast("long")) + NewTag).as(idCol),
      col(textCol))
    probeIncrementalRows(exRows, bandRowsGeneric(in, idCol, textCol, shingleK),
      incoming, idCol, maxBucket, broadcastBatchSides = false)
  }

  /** The probe body over ALREADY-BANDED batch rows. With
    * `broadcastBatchSides` the batch-derived sides ride broadcast joins —
    * touched buckets into the index semi-join (the index rows never
    * shuffle; bounded by batch x 4 distinct keys) and the drop set into
    * the final anti-join — correct whenever the BATCH is bounded (the
    * ingest contract; the corpus never broadcasts anywhere). The live
    * full-corpus path keeps shuffle joins: there `inRows` is a lazy
    * subtree whose duplication under two broadcast exchanges would
    * re-signature the batch.
    */
  private def probeIncrementalRows(exRows: DataFrame, inRows: DataFrame,
      incoming: DataFrame, idCol: String, maxBucket: Int,
      broadcastBatchSides: Boolean): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (broadcastBatchSides) broadcast(df) else df
    val touched = bc(inRows.select(col("band"), col("key")).distinct())
    val exPruned = exRows.join(touched, Seq("band", "key"), "left_semi")
    val pairs = bucketPairs(exPruned.unionByName(inRows),
      "__id", "ak", "id_a", "id_b", 4, mhBandMatch, maxBucket)
    val drops = bc(pairs.filter(col("id_b") >= NewTag)
      .select((col("id_b") - NewTag).as(idCol)).distinct())
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** Key-prefix partition value for the persisted band index: the first two
    * hex chars of the 16-hex-char band key, letter-prefixed so parquet
    * partition discovery never type-infers "00" as a number. 4 bands x 256
    * prefixes = at most 1024 partition directories, each holding a uniform
    * 1/1024 slice of the corpus band rows.
    */
  private def keyPrefix(key: Column): Column =
    concat(lit("p"), substring(key, 1, 2))

  /** Materialize the corpus band index ONCE: (\_\_id, ak, band, key) rows —
    * no document text — written as parquet partitioned by (band, kp, seg) so
    * a batch probe prunes to its touched key-prefix partitions at planning
    * time (the [[graft.operators.Similarity.writeSigPartitioned]] pattern).
    * This is the 100 TB form of incremental ingestion: the full-corpus scan
    * + MinHash signature runs once here, and every subsequent batch reads
    * only index slices, never corpus text.
    *
    * `seg` is the ingest-segment partition level: the base build writes one
    * segment, every append lands in its own (see [[appendBandIndex]]), and
    * [[compactBandIndex]] collapses them back to one. A batch-keyed seg is
    * also what makes a streaming append IDEMPOTENT — rewriting a segment
    * replaces exactly that batch's rows (`overwriteSeg = true` = dynamic
    * partition overwrite scoped to the segments present in the data).
    */
  def writeBandIndex(corpus: DataFrame, indexDir: String,
      idCol: String, textCol: String, shingleK: Int = ShingleK,
      mode: String = "overwrite", seg: String = "base",
      overwriteSeg: Boolean = false): Unit = {
    val ex = corpus.select(guardId(col(idCol).cast("long")).as(idCol), col(textCol))
    val rows = bandRowsGeneric(ex, idCol, textCol, shingleK)
      .withColumn("kp", keyPrefix(col("key")))
      .withColumn("seg", lit(seg))
      .repartition(col("band"), col("kp"))
      .write.partitionBy("band", "kp", "seg")
    val w = if (overwriteSeg)
      rows.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else rows.mode(mode)
    w.parquet(indexDir)
    graft.Tables.dropCached(corpus.sparkSession, indexDir)
  }

  /** Append a batch's band rows to a persisted index — call with the
    * ACCEPTED subset after [[incrementalKeptIndexed]] so the next batch
    * sees this one as existing corpus. With a per-batch `seg` and
    * `overwriteSeg = true` the append is a dynamic overwrite of that
    * segment alone: re-running the same batch (streaming retry) replaces
    * its own rows instead of duplicating them.
    */
  def appendBandIndex(accepted: DataFrame, indexDir: String,
      idCol: String, textCol: String, shingleK: Int = ShingleK,
      seg: String = "append", overwriteSeg: Boolean = false): Unit =
    writeBandIndex(accepted, indexDir, idCol, textCol, shingleK,
      mode = "append", seg = seg, overwriteSeg = overwriteSeg)

  /** Collapse a band index's accumulated ingest segments into ONE segment
    * with one file per (band, kp) partition. N streamed/appended batches
    * leave N file-sets per touched partition — the small-file problem —
    * and nothing else composes them ([[graft.operators.Layout.compact]]
    * pattern: tmp rewrite, count-verified, atomic swap). Probe results are
    * unchanged: the probe unions all segments and prunes only on
    * (band, kp).
    */
  def compactBandIndex(s: SparkSession, indexDir: String,
      seg: String = "base", preserveSegs: Set[String] = Set.empty): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val df = s.read.parquet(indexDir)
    val originalCount = df.count()
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compacting")
    fs.delete(tmp, true)
    // preserveSegs keeps the named segments' identity through the rewrite
    // (rows merge into the same files, seg VALUE survives): a streaming
    // auto-compact must preserve the just-appended batch's segment or a
    // crash-replay of that batch — which excludes its own seg — would find
    // its rows renamed into `seg` and collide with itself
    val segOut = if (preserveSegs.isEmpty) lit(seg)
      else when(col("seg").isin(preserveSegs.toSeq: _*), col("seg")).otherwise(lit(seg))
    df.select(col("__id"), col("ak"), col("key"), col("band"), col("kp"),
        segOut.as("seg"))
      .repartition(col("band"), col("kp"))
      .write.mode("overwrite").partitionBy("band", "kp", "seg")
      .parquet(tmp.toString)
    val rewritten = s.read.parquet(tmp.toString).count()
    require(rewritten == originalCount,
      s"compacted band index holds $rewritten of $originalCount rows — swap refused")
    val bak = new org.apache.hadoop.fs.Path(indexDir + ".compact-bak")
    fs.delete(bak, true)
    require(fs.rename(hPath, bak), s"could not move $indexDir aside")
    require(fs.rename(tmp, hPath), s"could not move compacted index into place")
    fs.delete(bak, true): Unit
    graft.Tables.dropCached(s, indexDir)
  }

  /** Delete documents from a persisted band index — the removal path a
    * long-lived 100 TB dedup corpus needs (takedowns, GDPR erasure,
    * retractions). Given the documents WITH their text, the docs' own band
    * keys statically prune the index to at most 4 x 256 (band, kp)
    * partitions (the same bounded-collect literal-filter protocol as the
    * [[incrementalKeptIndexed]] probe), so the rewrite cost is
    * O(affected partitions), independent of corpus size.
    *
    * Protocol per affected (band, kp, seg) partition: anti-join the
    * deleted ids out into a tmp layout, count-verify (rewritten ==
    * original - deleted band rows), then swap each partition directory
    * atomically; a partition whose rows are ALL deleted is removed
    * entirely. Untouched partitions are never read past their id column.
    */
  def deleteFromBandIndex(s: SparkSession, indexDir: String,
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = ShingleK): Unit = {
    val del = docs.select(guardId(col(idCol).cast("long")).as(idCol), col(textCol))
    // bounded (<= 4 x 256 rows) driver collect -> static partition filter
    val touched = bandRowsGeneric(del, idCol, textCol, shingleK)
      .select(col("band"), keyPrefix(col("key")).as("kp")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
    if (touched.isEmpty) return
    val partFilter = touched.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, ps) =>
      (col("band") === b) && col("kp").isin(ps.map(_._2).toSeq: _*)
    }.reduce(_ || _)
    deleteIdsFromBandIndex(s, indexDir,
      del.select(col(idCol).cast("long").as("__id")), partFilter)
  }

  /** Ids-only delete: when the deleted docs' text is gone (the usual
    * erasure situation — the content was already purged), the affected
    * partitions are DISCOVERED by an id-column scan under `partFilter`
    * (default: the whole index, column-pruned to __id + partition columns —
    * the honest fallback cost; pass the text-derived filter via
    * [[deleteFromBandIndex]] when the docs are still at hand).
    */
  def deleteIdsFromBandIndex(s: SparkSession, indexDir: String,
      delIds: DataFrame, partFilter: Column = lit(true)): Unit = {
    Layout.deleteByKey(s, indexDir, "__id",
      delIds.select(col(delIds.columns.head).cast("long")),
      Seq("band", "kp", "seg"), partFilter): Unit
    graft.Tables.dropCached(s, indexDir)
  }

  /** [[incrementalKept]] against a PERSISTED band index ([[writeBandIndex]])
    * instead of a live corpus scan: identical output, but per-batch cost is
    * O(batch) signature work + O(batch x bands) index buckets — the corpus
    * TEXT is read zero times per batch, and the index read itself is
    * partition-pruned to the batch's touched (band, key-prefix) set.
    *
    * The pruning happens twice, and neither step can change results:
    * (1) a bounded driver-side collect of the batch's distinct (band, kp)
    * pairs — at most 4 x 256 = 1024 rows REGARDLESS of batch size — becomes
    * a literal partition filter (static pruning, planning-time); (2) the
    * surviving index rows are left-semi joined on the full (band, key)
    * against the batch's touched buckets, exactly as the unindexed form.
    * Step 1 is a superset of step 2; untouched buckets could only produce
    * existing-existing pairs; a touched bucket keeps ALL its members, so
    * [[MaxBucket]] cap decisions match the unpruned computation. The batch
    * is signatured twice (once for the prefix collect, once in the lazy
    * probe plan) — O(2 x batch), the price of eliminating the O(corpus)
    * scan the unindexed form pays.
    */
  def incrementalKeptIndexed(s: SparkSession, indexDir: String,
      incoming: DataFrame, idCol: String, textCol: String,
      shingleK: Int = ShingleK, maxBucket: Int = MaxBucket,
      excludeSeg: Option[String] = None,
      cachedIndexReader: Boolean = false): DataFrame = {
    val in = incoming.select((guardId(col(idCol).cast("long")) + NewTag).as(idCol),
      col(textCol))
    // the batch is signatured ONCE: the eager checkpoint feeds the bounded
    // prefix collect AND the probe plan (the r12 form recomputed the
    // MinHash signatures across both — the probe's dominant batch-side
    // cost). The blocks live until the caller's drain; they hold
    // batch x 4 band rows, never corpus rows.
    val inRows = CheckpointScope.local(bandRowsGeneric(in, idCol, textCol, shingleK))
    val probed = inRows
      .select(col("band"), keyPrefix(col("key")).as("kp")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val partFilter = probed.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, ps) =>
      (col("band") === b) && col("kp").isin(ps.map(_._2).toSeq: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    // excludeSeg: a replaying stream batch must not see its OWN partial
    // rows from a crashed earlier attempt — it would collide with itself
    val segGuard = excludeSeg.map(col("seg") =!= _).getOrElse(lit(true))
    // cachedIndexReader: a long-lived serving session holds its index
    // open (the partition re-list of a 1024-dir index is a per-probe
    // tax) — ONLY for immutable staged indexes; every mutator below
    // invalidates the cache, and streaming ingest keeps a fresh read
    // because its own appends land between probes
    val idx = if (cachedIndexReader) graft.Tables.at(s, indexDir)
      else s.read.parquet(indexDir)
    val exRows = idx.filter(partFilter && segGuard)
      .select(col("__id"), col("ak"), col("band").cast("int").as("band"), col("key"))
    probeIncrementalRows(exRows, inRows, incoming, idCol, maxBucket,
      broadcastBatchSides = true)
  }

  /** One row per (id, band, key) over the 4 MinHash bands of any corpus
    * frame, with the full key-concat carried as `ak`. Sub-k-word docs have
    * NULL signatures and must produce no band rows. The null drop is a
    * when-gated generate (posexplode of a NULL array emits nothing), NOT a
    * Filter: a Filter(isNotNull(sig)) is pushed below the projection and
    * re-evaluates the expensive signature per row (measured 1.8x on the
    * whole stage).
    */
  private def bandRowsGeneric(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    df.withColumn("__mhs",
        graft.plans.MinhashSigExpr.minhashSig8Native(col(textCol), shingleK))
      .select(col(idCol).as("__id"),
        concat((1 to 8).map(j => element_at(col("__mhs"), j)): _*).as("ak"))
      .select(col("__id"), col("ak"),
        posexplode(when(col("ak").isNotNull,
          array((0 until 4).map(mhBandKey(col("ak"), _)): _*)))
          .as(Seq("band", "key")))

  /** Library API: embedding near-dup pairs via random-hyperplane LSH bands
    * + exact cosine, parameterized ([[qEmbeddingNearDup]] = this with the
    * module constants over the embeddings table).
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = NdPlanes, bands: Int = NdBands, bandBits: Int = NdBandBits,
      dim: Int = NdDim, threshold: Double = 0.3,
      maxBucket: Int = MaxBucket): DataFrame = {
    val sigs = df.select(col(idCol).as("__id"),
      graft.plans.LshSigExpr.lshSigNative(col(vecCol), planes, dim).as("sig"))
    val bandRows = sigs
      .select(col("__id"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          shiftrightunsigned(col("sig"), bandBits * b)
            .bitwiseAND(lit((1L << bandBits) - 1))
        }: _*)).as(Seq("band", "key")))
    def sigBandMatch(a: Column, bb: Column, b: Int): Column =
      shiftrightunsigned(a.bitwiseXOR(bb), bandBits * b)
        .bitwiseAND(lit((1L << bandBits) - 1)) === 0
    bucketPairs(bandRows, "__id", "sig", "id_a", "id_b", bands, sigBandMatch, maxBucket)
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("__ea")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("__eb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("__ea"), col("__eb")).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** DuckDB twin of the bucket-size window used by the [[MaxBucket]] guard. */
  private def sizedCteSql(bandsCte: String): String =
    s"sized AS (SELECT *, count(*) OVER (PARTITION BY band, key) AS bs FROM $bandsCte)"

  /** DuckDB twin of [[bucketPairs]]' cap + first-matching-band semantics:
    * rank each candidate pair's band matches by band index and keep the pair
    * iff its FIRST matching band's bucket is within the cap. (The windowed
    * self-join is fine for the small-scale oracle; the Spark side never
    * materializes the uncapped match set.)
    */
  private[operators] def candCteSql(bandsCte: String, idC: String,
                         aOut: String, bOut: String): String =
    s"""${sizedCteSql(bandsCte)},
       |cand AS (
       |  SELECT $aOut, $bOut FROM (
       |    SELECT a.$idC AS $aOut, b.$idC AS $bOut, a.bs,
       |      row_number() OVER (PARTITION BY a.$idC, b.$idC ORDER BY a.band) AS rk
       |    FROM sized a JOIN sized b
       |      ON a.band = b.band AND a.key = b.key AND a.$idC < b.$idC)
       |  WHERE rk = 1 AND bs <= $MaxBucket)""".stripMargin

  /** Exact dedup: group documents by content hash; keeper = min doc_id.
    * (At 100 TB: one shuffle on a 32-char key, partial-agg'd map-side.)
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy(col("content_hash"))

  val qDedupExactSql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |  min(doc_id) AS keeper
      |FROM documents
      |GROUP BY 1
      |ORDER BY content_hash""".stripMargin

  private val ShingleK = 3

  /** Per-doc 8-slot minhash columns via the native Catalyst expression
    * (graft.plans.MinhashSigExpr — one compiled loop, 2 md5 calls per
    * shingle, no intermediate arrays). Values identical to the declarative
    * TextFunctions.minhashSig8(shingles(words(text), k)) and to the oracle.
    */
  private def withMinhashes(d: DataFrame): DataFrame = {
    val base = d.withColumn("mhs",
      graft.plans.MinhashSigExpr.minhashSig8Native(col("text"), ShingleK))
    (0 until 8).foldLeft(base) { (df, j) =>
      df.withColumn(s"mh$j", element_at(col("mhs"), j + 1))
    }
  }

  private val minhashCte: String = {
    val sh = shinglesSql("ws", ShingleK)
    val slots = (0 until 8).map { j =>
      s"${minhashSlotSql(if (j < 4) "h0" else "h1", j % 4)} AS mh$j"
    }.mkString(", ")
    s"""m AS (
       |  SELECT doc_id, $slots
       |  FROM (SELECT doc_id, ${md5ArraySql("sh", 0)} AS h0, ${md5ArraySql("sh", 1)} AS h1
       |        FROM (SELECT doc_id, $sh AS sh
       |              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))))""".stripMargin
  }

  /** Per-document MinHash signature (8 hash slots over 3-word shingles).
    * Sorted BEFORE the signature projection: orderBy-after would make the
    * range partitioner's sampling pass execute the md5 fold twice.
    */
  def qMinhashSignature(s: SparkSession, dir: String): DataFrame = {
    val sig = concat_ws("|", (0 until 8).map(j => col(s"mh$j")): _*)
    withMinhashes(Tables.documents(s, dir).orderBy(col("doc_id")))
      .select(col("doc_id"), sig.as("minhash_sig"))
  }

  val qMinhashSignatureSql: String =
    s"""WITH $minhashCte
       |SELECT doc_id, concat_ws('|', ${(0 until 8).map(j => s"mh$j").mkString(", ")}) AS minhash_sig
       |FROM m
       |ORDER BY doc_id""".stripMargin

  /** Banded LSH: 8 minhash slots -> 4 bands of 2; docs sharing a band key
    * are candidate near-duplicates. The band explode is a narrow generate;
    * the candidate search is an equi-join on (band, key) — bucket-local,
    * never all-pairs.
    */
  /** One row per (doc_id, band, key) over the 4 MinHash bands. The (band,
    * key) space is md5-derived strings — effectively unbounded cardinality,
    * so the downstream bucket shuffle has no structurally hot key.
    */
  private def minhashBandRows(s: SparkSession, dir: String): DataFrame =
    minhashBandRowsOf(Tables.documents(s, dir))

  private def minhashBandRowsOf(docs: DataFrame): DataFrame = {
    val d = withMinhashes(docs)
    // sub-k-word docs have a NULL signature: they must produce NO band
    // rows — Spark's groupBy would otherwise cluster all NULL keys into
    // one bucket and pair them, where the oracle's null-dropping
    // equi-join (and the round-1 self-join) never would. The null drop is
    // a when-gated generate (posexplode of NULL emits nothing), NOT a
    // Filter: a Filter(isNotNull(mhs)) is pushed below the projection and
    // re-evaluates the signature per row (measured 1.8x on the stage)
    d.select(col("doc_id"), concat((0 until 8).map(j => col(s"mh$j")): _*).as("ak"))
      .select(col("doc_id"), col("ak"),
        posexplode(when(col("ak").isNotNull,
          array((0 until 4).map(mhBandKey(col("ak"), _)): _*)))
          .as(Seq("band", "key")))
  }

  private val minhashBandsCteSql: String = {
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS key FROM m"
    }.mkString("\n  UNION ALL ")
    s"bands AS ($bandRows)"
  }

  def qLshCandidates(s: SparkSession, dir: String): DataFrame =
    bucketPairs(minhashBandRows(s, dir), "doc_id", "ak", "doc_a", "doc_b", 4, mhBandMatch)
      .orderBy(col("doc_a"), col("doc_b"))

  val qLshCandidatesSql: String =
    s"""WITH $minhashCte,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")}
       |SELECT doc_a, doc_b FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- LSH parameter auto-tuning (beyond-ref; the banding S-curve of
  //      Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4) ----

  /** Total error area of a (bands, rows) banding around threshold t.
    * Collision probability at true similarity s is P(s) = 1-(1-s^r)^b;
    * the cost of a split is false-positive mass below t plus
    * false-negative mass above it:
    *
    *   err(b,r) = integral_0^t P(s) ds + integral_t^1 (1-P(s)) ds
    *            = t - 2*I(t) + I(1),   I(x) = integral_0^x (1-s^r)^b ds
    *
    * and I(x) expands exactly by the binomial theorem to
    * sum_i C(b,i)(-1)^i x^(ri+1)/(ri+1) — a closed form, no numeric
    * quadrature, so the tuner's choice is deterministic.
    */
  def lshErrorArea(threshold: Double, bands: Int, rows: Int): Double = {
    def bigI(x: Double): Double = {
      var acc = 0.0
      var c = 1.0 // C(bands, i) — exact in double at these magnitudes
      var i = 0
      while (i <= bands) {
        val term = c * math.pow(x, rows.toDouble * i + 1) / (rows.toDouble * i + 1)
        acc += (if (i % 2 == 0) term else -term)
        c = c * (bands - i) / (i + 1)
        i += 1
      }
      acc
    }
    threshold - 2.0 * bigI(threshold) + bigI(1.0)
  }

  /** Pick (bands, rowsPerBand) with bands*rows == slots minimizing
    * [[lshErrorArea]] at `threshold`; ties break toward more rows per
    * band (fewer false positives -> less verification compute, the
    * cheaper failure mode at cluster scale). This is the knob a 100 TB
    * user turns: the signature budget is fixed by storage, the
    * threshold by dedup policy, and the split decides whether the
    * cluster pays in wasted verification or in missed duplicates.
    * Pinned picks (LshTuneSpec): t=0.15->(8,1), 0.5->(4,2),
    * 0.7->(2,4), 0.9->(1,8).
    */
  def lshTune(threshold: Double, slots: Int = 8): (Int, Int) = {
    // slots cap: lshErrorArea's alternating binomial sum is exact-in-double
    // only while C(b,i) stays below 2^53; past ~32 slots the cancellation is
    // catastrophic and the argmin would be rounding noise, so fail loudly
    // instead of returning a noise-driven split (valid range documented)
    require(slots >= 1 && slots <= 32 && threshold > 0.0 && threshold < 1.0,
      s"lshTune: need 0 < threshold < 1 and 1 <= slots <= 32 " +
        s"(closed-form error area is numerically exact only there), " +
        s"got t=$threshold slots=$slots")
    val splits = (1 to slots).filter(slots % _ == 0).map(b => (b, slots / b))
    splits.minBy { case (b, r) => (lshErrorArea(threshold, b, r), -r) }
  }

  /** Band-b key of a `rows`-slot band (8 hex chars per slot). */
  private def mhBandKeyW(ak: Column, b: Int, rows: Int): Column =
    substring(ak, 8 * rows * b + 1, 8 * rows)

  /** [[minhashBandRowsOf]] generalized to a tuned (bands, rows) split of
    * the same 8-slot signature — same null-drop generate, same unbounded
    * (band, key) space.
    */
  private def minhashBandRowsTuned(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    withMinhashes(docs)
      .select(col("doc_id"), concat((0 until 8).map(j => col(s"mh$j")): _*).as("ak"))
      .select(col("doc_id"), col("ak"),
        posexplode(when(col("ak").isNotNull,
          array((0 until bands).map(mhBandKeyW(col("ak"), _, rows)): _*)))
          .as(Seq("band", "key")))

  /** Candidate pairs under a TUNER-CHOSEN banding at threshold 0.7 —
    * lshTune picks (2 bands, 4 rows): curve midpoint (1/2)^(1/4) = 0.84
    * vs the default (4,2)'s 0.50, so this variant trades recall on
    * mid-similarity pairs for a sharply smaller candidate (and thus
    * verification) volume. The SQL twin hardcodes the same (2,4) split;
    * LshTuneSpec pins the tuner's pick so the two cannot drift apart.
    */
  private val TunedThreshold = 0.7
  def qLshTuned(s: SparkSession, dir: String): DataFrame = {
    val (b, r) = lshTune(TunedThreshold, 8)
    bucketPairs(minhashBandRowsTuned(Tables.documents(s, dir), b, r),
      "doc_id", "ak", "doc_a", "doc_b", b,
      (x, y, band) => mhBandKeyW(x, band, r) === mhBandKeyW(y, band, r))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qLshTunedSql: String = {
    val bandRows = (0 until 2).map { b =>
      val ks = (0 until 4).map(j => s"mh${4 * b + j}").mkString(" || ")
      s"SELECT doc_id, $b AS band, $ks AS key FROM m"
    }.mkString("\n  UNION ALL ")
    s"""WITH $minhashCte,
       |bands AS ($bandRows),
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")}
       |SELECT doc_a, doc_b FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Incremental ingest demo split: every 5th doc is the incoming batch,
    * the rest are the existing corpus; output = accepted incoming ids.
    */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"))
    incrementalKept(existing, incoming, "doc_id", "text")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  val qDedupIncrementalSql: String = {
    val NewTag = 1L << 62
    // same signature/band/candidate CTEs over a TAGGED id space: incoming
    // ids carry the 2^62 bit, so pair side b is incoming iff tagged
    val taggedMinhash = minhashCte.replace("FROM documents", "FROM tagged")
    s"""WITH tagged AS (
       |  SELECT CASE WHEN doc_id % 5 = 0 THEN doc_id + $NewTag ELSE doc_id END AS doc_id,
       |         text
       |  FROM documents),
       |$taggedMinhash,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")}
       |SELECT doc_id FROM documents
       |WHERE doc_id % 5 = 0
       |  AND doc_id NOT IN (
       |    SELECT DISTINCT doc_b - $NewTag FROM cand WHERE doc_b >= $NewTag)
       |ORDER BY doc_id""".stripMargin
  }

  /** The persisted-index variant of the same demo split: the existing
    * corpus's band index is STAGED ONCE per documents file under /tmp
    * ([[Staging.stagedFor]]) and every run probes it — same accepted set
    * as [[qDedupIncremental]], zero corpus text reads per probe
    * (IncrementalIndexSpec pins this on scan metrics).
    */
  def qDedupIncrementalIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = Staging.stagedFor("band_index", dir, "documents.parquet") { tmp =>
      writeBandIndex(docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text")), tmp.toString, "doc_id", "text")
    }
    val incoming = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    incrementalKeptIndexed(s, idx, incoming, "doc_id", "text",
        cachedIndexReader = true)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Per-document 16-bit SimHash (majority vote over word-hash bits).
    * Sort-before-project: see qMinhashSignature.
    */
  def qSimhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .select(col("doc_id"), simhash16(words(col("text"))).as("simhash"))

  /** Full-width 64-bit SimHash via the native expression
    * (graft.plans.SimhashExpr: one compiled loop, one md5 per word).
    */
  def qSimhash64(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .select(col("doc_id"),
        graft.plans.SimhashExpr.simhash64(col("text")).as("simhash64"))

  val qSimhash64Sql: String =
    s"""SELECT doc_id, ${graft.plans.SimhashExpr.simhash64Sql("string_split(text, ' ')")} AS simhash64
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  val qSimhashSql: String =
    s"""SELECT doc_id, ${simhash16Sql("string_split(text, ' ')")} AS simhash
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** SimHash near-dup candidates: band the 64-bit signature into 4x16-bit
    * keys — any pair within hamming distance 3 shares at least one band
    * (pigeonhole), so the quadratic comparison collapses to 4 equi-joins.
    * Exact hamming via bit_count(xor) on the candidates only.
    */
  def qSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.SimhashExpr.simhash64(col("text")).as("sig"))
    val bands = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("key"))
        }: _*)).as("bk"))
      .select(struct(col("doc_id"), col("sig")).as("ds"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Bucket-collect: sigs travel inside the (doc_id, sig) struct so the
    // exact hamming is computed bucket-locally on candidates only; MaxBucket
    // caps the pathological all-same-sig bucket. A pair is emitted only from
    // its first matching band (band-match is a sig-local test: that 16-bit
    // slice of the xor is zero), so pairs are born unique — no pair-set
    // exchange after the bucket shuffle.
    bands.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("ds"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxBucket)
      .select(col("band"), explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .filter(!(0 until 3).map { b =>
        (col("band") > b) &&
          (shiftrightunsigned(col("p.a.sig").bitwiseXOR(col("p.b.sig")), 16 * b)
            .bitwiseAND(lit(0xFFFFL)) === 0)
      }.reduce(_ || _))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming"))
      .filter(col("hamming") <= 16)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qSimhashPairsSql: String = {
    val sig = graft.plans.SimhashExpr.simhash64Sql("string_split(text, ' ')")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, sig, $b AS band, (sig >> ${16 * b}) & 65535 AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH sigs AS (SELECT doc_id, $sig AS sig FROM documents),
       |bands AS ($bandRows),
       |${sizedCteSql("bands")}
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.bs,
       |    bit_count(xor(a.sig, b.sig)) AS hamming,
       |    row_number() OVER (PARTITION BY a.doc_id, b.doc_id ORDER BY a.band) AS rk
       |  FROM sized a JOIN sized b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |WHERE rk = 1 AND bs <= $MaxBucket AND hamming <= 16
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** n-gram Jaccard over LSH candidate pairs. Candidates come from the
    * banded-MinHash buckets (high-cardinality (band, key) join key, capped
    * buckets); the exact shingle intersection runs only on candidates via
    * array_intersect — never a shingle-explode self-join, whose blocking key
    * (formerly `source`) goes quadratic on any frequent shingle at scale.
    */
  def qJaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsOf(Tables.documents(s, dir))

  /** Library form of [[qJaccardPairs]] over any (doc_id, text) frame. */
  def jaccardPairsOf(docs: DataFrame): DataFrame =
    shingleSetPairs(docs)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("inter") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared core of [[jaccardPairsOf]] / [[containmentPairs]]: LSH candidate
    * pairs with exact hashed-shingle intersection size and both set sizes —
    * every set-overlap measure (Jaccard, containment, Dice, overlap
    * coefficient) is a scalar projection over (inter, na, nb).
    */
  def shingleSetPairs(docs: DataFrame): DataFrame = {
    // Candidates are materialized once (local checkpoint; reliable
    // checkpoint(dir) on a cluster) and used twice: to semi-join the corpus
    // down to candidate MEMBERS before the shingle-set computation, and as
    // the pair stream itself. Without this, both join sides below would
    // shingle the FULL corpus and shuffle the big array columns — measured
    // 14.5s -> 4.4s at sf1 (members are a tiny fraction at any scale).
    // Lazy: building the PLAN must not run the candidate jobs
    // (explain/plan-audit consumers); the first action materializes it.
    val cand = CheckpointScope.local(bucketPairs(minhashBandRowsOf(docs),
      "doc_id", "ak", "doc_a", "doc_b", 4, mhBandMatch), eager = false)
    val members = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // hashed shingle sets: the exact-Jaccard join formerly shuffled the
    // full shingle TEXT arrays (~20 bytes/shingle + offsets) through both
    // joins; 60-bit md5-prefix longs carry the same set identity at 8
    // bytes/element and make every intersection probe a long equality
    // sets are emitted ASCENDING so the per-pair probe is a native merge
    // walk (IntersectSizeExpr) — array_intersect builds and probes a hash
    // set per candidate pair, which dominated the verification stage at sf1.
    // d is consumed TWICE below (sha and shb sides); without its own lazy
    // checkpoint each join re-runs the corpus text scan + semi-join +
    // shingling — measured ~1.4 s of the 4.3 s sf1 total
    val d = CheckpointScope.local(docs
      .join(members, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.plans.ShingleSetExpr.shingleHashSetSorted(col("text"), ShingleK).as("sh")),
      eager = false)
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.plans.IntersectSizeExpr.intersectSize(col("sha"), col("shb")).as("inter"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
  }

  val qJaccardPairsSql: String = {
    val sh = shinglesSql("ws", ShingleK)
    // distinct on the shingle TEXT first, then hash — exactly the Spark
    // side's order, so results agree even under a (2^-60) hash collision
    val hashSet =
      s"list_transform(list_distinct($sh), s -> ${graft.plans.ShingleSetExpr.hash60Sql("s")})"
    s"""WITH $minhashCte,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")},
       |d AS (SELECT doc_id, $hashSet AS sh
       |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(da.sh, db.sh)) AS inter,
       |    len(da.sh) AS na, len(db.sh) AS nb
       |  FROM cand
       |  JOIN d da ON doc_a = da.doc_id
       |  JOIN d db ON doc_b = db.doc_id)
       |SELECT doc_a, doc_b, inter, inter / (na + nb - inter) AS jaccard
       |FROM j
       |WHERE inter >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Signature-estimated Jaccard over LSH candidate pairs — the verification
    * mode an actual 100 TB MinHash dedup runs: E[matches/8] = J(A,B), so
    * scoring the candidates from the signatures ALONE skips the second and
    * third corpus joins (and the shingle recompute) that exact verification
    * ([[jaccardPairsOf]]) pays. The signatures ride through the buckets as
    * the existing `ak` carry, so the whole query is ONE exchange — band
    * rows in, scored pairs out; the corpus text is read exactly once, for
    * the signature projection itself.
    *
    * Determinism: est_jaccard = matches/8 is dyadic, so the double render
    * is bit-identical across engines. Every candidate scores >= 2/8 by
    * construction (its matching band IS two equal slots).
    */
  def jaccardEstimatePairs(docs: DataFrame): DataFrame =
    bucketPairs(minhashBandRowsOf(docs), "doc_id", "ak", "doc_a", "doc_b",
        4, mhBandMatch, carryOut = Some(("aka", "akb")))
      .select(col("doc_a"), col("doc_b"),
        (0 until 8).map(j => // 8 hex chars per slot (2 slots per 16-char band)
          when(substring(col("aka"), 8 * j + 1, 8) ===
            substring(col("akb"), 8 * j + 1, 8), 1L).otherwise(0L))
          .reduce(_ + _).as("est_matches"))
      .select(col("doc_a"), col("doc_b"), col("est_matches"),
        (col("est_matches") / lit(8.0)).as("est_jaccard"))

  def qJaccardEstimate(s: SparkSession, dir: String): DataFrame =
    jaccardEstimatePairs(Tables.documents(s, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  val qJaccardEstimateSql: String = {
    val matches = (0 until 8).map(j =>
      s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCte,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")}
       |SELECT doc_a, doc_b, CAST($matches AS BIGINT) AS est_matches,
       |  CAST($matches AS BIGINT) / 8.0 AS est_jaccard
       |FROM cand JOIN m a ON doc_a = a.doc_id JOIN m b ON doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Containment pairs — inter/min(|A|,|B|) over the same LSH candidates
    * and exact hashed-shingle sets as [[jaccardPairsOf]]. Containment
    * catches SUBSET duplicates (a doc embedded whole in a longer one) that
    * symmetric Jaccard misses: a 50-shingle doc inside a 500-shingle doc
    * scores J ~ 0.1 but containment 1.0. Same one-exchange candidate
    * machinery, same semi-join member pruning; only the final scoring
    * projection differs.
    */
  def containmentPairs(docs: DataFrame): DataFrame =
    shingleSetPairs(docs)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("inter") >= 2)

  def qContainmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  val qContainmentPairsSql: String = {
    val sh = shinglesSql("ws", ShingleK)
    val hashSet =
      s"list_transform(list_distinct($sh), s -> ${graft.plans.ShingleSetExpr.hash60Sql("s")})"
    s"""WITH $minhashCte,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")},
       |d AS (SELECT doc_id, $hashSet AS sh
       |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(da.sh, db.sh)) AS inter,
       |    len(da.sh) AS na, len(db.sh) AS nb
       |  FROM cand
       |  JOIN d da ON doc_a = da.doc_id
       |  JOIN d db ON doc_b = db.doc_id)
       |SELECT doc_a, doc_b, inter, inter / least(na, nb) AS containment
       |FROM j
       |WHERE inter >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Random-hyperplane LSH parameters for embedding near-dup: 32 planes cut
    * into 4 bands of 8 bits. At production scale raise NdBandBits (wider
    * band keys → higher-cardinality buckets) and/or NdBands (more tables →
    * higher recall); both sides of the oracle derive from the same
    * deterministic sign matrix so any setting stays checkable.
    */
  private val NdPlanes = 32
  private val NdBands = 4
  private val NdBandBits = 8
  private val NdDim = 64

  /** Embedding-cosine near-dup via LSH bucketing: candidates = vector pairs
    * sharing a random-hyperplane signature band; exact scaled-int cosine is
    * computed only on candidates. This replaces the former per-label
    * all-pairs self-join (O(n²/L) on a ~10-value label column — never
    * finishes at 100 TB) with a narrow signature projection + one capped
    * bucket shuffle + an equi-join of the (small) candidate list back to the
    * embeddings on vec_id.
    */
  def qEmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))

  val qEmbeddingNearDupSql: String = {
    // Literal ±1 sign rows (same md5-derived matrix as LshSigExpr).
    val signM = graft.plans.LshSigExpr.signMatrix(NdPlanes, NdDim)
    val sigSql = (0 until NdPlanes).map { j =>
      val lst = signM(j).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${NdDim + 1}), i -> ($lst)[i] * ${scaledElemSql("embedding", "i")})) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val bandRows = (0 until NdBands).map { b =>
      s"SELECT vec_id, $b AS band, (sig >> ${NdBandBits * b}) & ${(1L << NdBandBits) - 1} AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH sigs AS (SELECT vec_id, $sigSql AS sig FROM embeddings),
       |bands AS ($bandRows),
       |${candCteSql("bands", "vec_id", "vec_a", "vec_b")}
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT vec_a, vec_b, ${cosineSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand
       |  JOIN embeddings ea ON vec_a = ea.vec_id
       |  JOIN embeddings eb ON vec_b = eb.vec_id)
       |WHERE cos > 0.3
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * REMOVAL scoped to embedding clusters. The paper clusters the corpus
    * (k-means), then drops all but one member of each within-cluster
    * near-duplicate set — semantically-redundant documents whose TEXT
    * differs too much for shingle dedup.
    *
    * Scale form: a literal within-cluster all-pairs comparison is
    * O(n²/k) per cluster — unbounded as data grows at fixed k, the same
    * cliff the per-label self-join died on. Here the pair generation is
    * the capped banded-LSH machinery with the CLUSTER PREPENDED to every
    * band key: candidates must share (cluster, band key), buckets stay
    * capped, exact cosine runs only on candidates. Clustering is the
    * deterministic nearest-label-centroid assignment
    * ([[Similarity.labelCentroidAssign]] — at production scale swap in the
    * Lloyd-trained quantizer from `Similarity.qAnnKmeans`; the operator
    * only needs SOME deterministic assignment column).
    *
    * Drop rule: a vector is dropped iff it pairs (cos > threshold) with
    * any SMALLER id in its cluster; its keeper is the highest-cosine such
    * partner (ties → smallest id), via partial-agg min(struct(-cos, id)) —
    * no window.
    */
  def semanticDropList(e: DataFrame, threshold: Double = 0.3): DataFrame = {
    // signature and cluster assignment are BOTH per-row functions of the
    // embedding (the centroid table rides a one-row broadcast), so they
    // compute in ONE projection — the former sig⋈assigned equi-join of
    // two n-row frames derived from the same scan shuffled the corpus
    // twice for values already co-resident in the row
    val ev = e.withColumn("v", scaled(col("embedding")))
    val sigs = ev.crossJoin(broadcast(Similarity.labelCentroidArr(ev)))
      .withColumn("best", Similarity.nearestCentStruct)
      .select(col("vec_id"),
        graft.plans.LshSigExpr.lshSigNative(col("embedding"), NdPlanes, NdDim).as("sig"),
        col("best.c_label").as("assigned"))
    val bandRows = sigs.select(col("vec_id"), col("sig"),
      posexplode(array((0 until NdBands).map { b =>
        concat(col("assigned").cast("string"), lit("|"),
          shiftrightunsigned(col("sig"), NdBandBits * b)
            .bitwiseAND(lit((1L << NdBandBits) - 1)).cast("string"))
      }: _*)).as(Seq("band", "key")))
    // both members of a bucket share the cluster by construction, so the
    // first-matching-band rule needs only the sig carry (an earlier-band
    // sig match implies the same earlier (cluster, band) bucket)
    def sigBandMatch(a: Column, bb: Column, b: Int): Column =
      shiftrightunsigned(a.bitwiseXOR(bb), NdBandBits * b)
        .bitwiseAND(lit((1L << NdBandBits) - 1)) === 0
    bucketPairs(bandRows, "vec_id", "sig", "id_a", "id_b", NdBands, sigBandMatch)
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("__ea")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("__eb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("__ea"), col("__eb")).as("cos"))
      .filter(col("cos") > threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(struct((-col("cos")).as("nc"), col("id_a").as("k"))).as("best"))
      .select(col("vec_id"), col("best.k").as("keeper"), (-col("best.nc")).as("cos"))
  }

  def qDedupSemantic(s: SparkSession, dir: String): DataFrame =
    semanticDropList(Tables.embeddings(s, dir)).orderBy(col("vec_id"))

  val qDedupSemanticSql: String = {
    val signM = graft.plans.LshSigExpr.signMatrix(NdPlanes, NdDim)
    val sigSql = (0 until NdPlanes).map { j =>
      val lst = signM(j).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${NdDim + 1}), i -> ($lst)[i] * ${scaledElemSql("embedding", "i")})) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val bandRows = (0 until NdBands).map { b =>
      s"""SELECT s.vec_id, $b AS band,
         |    CAST(a.assigned AS VARCHAR) || '|' ||
         |    CAST((s.sig >> ${NdBandBits * b}) & ${(1L << NdBandBits) - 1} AS VARCHAR) AS key
         |  FROM sigs s JOIN assigned a USING (vec_id)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${Similarity.assignedCteSql},
       |sigs AS (SELECT vec_id, $sigSql AS sig FROM embeddings),
       |bands AS ($bandRows),
       |${candCteSql("bands", "vec_id", "vec_a", "vec_b")},
       |pairs AS (
       |  SELECT vec_a, vec_b, cos FROM (
       |    SELECT vec_a, vec_b, ${cosineSql("ea.embedding", "eb.embedding")} AS cos
       |    FROM cand
       |    JOIN embeddings ea ON vec_a = ea.vec_id
       |    JOIN embeddings eb ON vec_b = eb.vec_id)
       |  WHERE cos > 0.3)
       |SELECT vec_id, keeper, cos FROM (
       |  SELECT vec_b AS vec_id, vec_a AS keeper, cos,
       |    row_number() OVER (PARTITION BY vec_b ORDER BY cos DESC, vec_a) AS rk
       |  FROM pairs)
       |WHERE rk = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** Duplicate CLUSTERS from the LSH candidate pairs via alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") iterated to CONVERGENCE — unlike
    * a fixed-round min-label propagation, a duplicate chain of any diameter
    * lands in one component.
    *
    * Each half-round is a partial-aggregated `groupBy.min` plus a join
    * co-partitioned on the same key (no neighborhood collect_list, so a
    * hub's neighbor set never materializes in one row). The edge set is
    * `localCheckpoint`ed per round to cut lineage; on a cluster the
    * reliable `checkpoint(dir)` variant is the same call. Convergence is an
    * EXACT edge-set stability check (signed union-groupBy: both sides are
    * distinct sets, so the per-edge ±1 sum is zero everywhere iff the sets
    * are equal) FUSED into the small-star materialization job — the
    * certificate is an observed metric on the checkpointed diff frame, so
    * a round costs two actions total (r13 ran the check as a third). The
    * fixpoint of the alternation is star graphs rooted at component
    * minima, so stability means labels are final. Round complexity is
    * O(log^2 n) in theory, 2-4 rounds on near-dup graphs in practice.
    */
  val MaxStarRounds = 30

  /** (id, label) for every id: component-minimum label over the undirected
    * graph `pairs` (canonical a < b edges); ids not in any pair label
    * themselves. Library API — the oracle query composes it with the capped
    * LSH candidate pairs; specs feed synthetic edge lists.
    *
    * ACTION-BEARING BUILDER: unlike every other query builder in this
    * module, calling this function RUNS Spark jobs (two eager per-round
    * checkpoints; the convergence check rides the second as an observed
    * metric) — the label fixpoint cannot be expressed as a static plan
    * because the round count is data-dependent. Consumers that only need
    * a plan shape
    * (explain, plan audits) should expect construction cost proportional
    * to the clustering itself; the returned frame is the cheap final-round
    * join over already-checkpointed edges.
    */
  def componentLabels(ids: DataFrame, idCol: String,
                      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    var ckpt = CheckpointScope.local(pairs
      .select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var edges = ckpt
    var converged = false
    var round = 0
    while (!converged && round < MaxStarRounds) {
      // large-star: every node u attaches its LARGER neighbors to the
      // minimum m of its closed neighborhood (m <= u < v keeps edges
      // canonical)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val largeStar = CheckpointScope.local(sym.join(lsMin, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("u"), col("v")).distinct())
      // small-star: every node v attaches its SMALLER neighbors (and
      // itself) to the minimum m of that set
      val ssMin = largeStar.groupBy(col("v")).agg(min(col("u")).as("m"))
      val smallStar = largeStar.join(ssMin, "v")
        .filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
        .union(ssMin.select(col("m").as("u"), col("v")))
        .distinct()
      // The round's ONE remaining action fuses the small-star
      // materialization with the exact set-equality convergence check
      // (both sides are distinct edge sets, so the signed per-edge sum d
      // is zero everywhere iff the sets are equal — the same signed
      // union-groupBy the r13 form ran as a THIRD job per round). The
      // checkpointed frame carries d: the new edge set is the d >= 0
      // slice (+1 new-only, 0 in both), and the convergence certificate
      // rides the same job as an observed metric — count(d != 0) is
      // exactly-once (CollectMetricsExec, not an RDD accumulator) and 0
      // on an empty diff, so the check stays EXACT.
      val merged = edges.select(col("u"), col("v"), lit(-1L).as("s"))
        .union(smallStar.select(col("u"), col("v"), lit(1L).as("s")))
        .groupBy(col("u"), col("v")).agg(sum(col("s")).as("d"))
        .observe(s"conv_$round", count(when(col("d") =!= 0, lit(1))).as("n"))
      val nextCkpt = CheckpointScope.local(merged)
      converged = merged.queryExecution.observedMetrics
        .get(s"conv_$round").exists(_.getLong(0) == 0L)
      // the new checkpoint was materialized FROM the old one and the
      // large-star half — both dead now; free their blocks instead of
      // waiting for frame GC (guide §5)
      CheckpointScope.release(ckpt)
      CheckpointScope.release(largeStar)
      ckpt = nextCkpt
      edges = nextCkpt.filter(col("d") >= 0).select(col("u"), col("v"))
      round += 1
    }
    require(converged, s"componentLabels did not converge in $MaxStarRounds rounds")
    // converged star edges are (root=u, member=v); roots and singletons
    // label themselves
    val memberLabels = edges.groupBy(col("v")).agg(min(col("u")).as("lbl"))
    ids.select(col(idCol).as("doc_id"))
      .join(memberLabels.select(col("v").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
  }

  /** (doc_id, label) over the capped LSH candidate edges — singletons keep
    * their own id.
    */
  private def propagatedLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = bucketPairs(minhashBandRows(s, dir), "doc_id", "ak", "doc_a", "doc_b", 4, mhBandMatch)
    componentLabels(docs, "doc_id", pairs, "doc_a", "doc_b")
  }

  def qDedupComponents(s: SparkSession, dir: String): DataFrame =
    propagatedLabels(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .filter(col("cluster_size") > 1)
      .select(col("label").as("component"), col("cluster_size"),
        concat_ws(",", col("members")).as("members"))
      .orderBy(col("component"))

  /** Shared CTE chain — documents -> capped LSH candidate edges ->
    * component-minimum labels via a recursive transitive closure — composed
    * by both the components and the keeper-by-quality SQL. The closure is
    * the declarative twin of the Spark side's converged large-star/
    * small-star: both assign every vertex the MINIMUM id reachable in its
    * component, a unique fixpoint independent of iteration strategy.
    * (Consumers must open with WITH RECURSIVE.)
    */
  private val propagationCteSql: String =
    s"""$minhashCte,
       |$minhashBandsCteSql,
       |${candCteSql("bands", "doc_id", "doc_a", "doc_b")},
       |edges AS (
       |  SELECT doc_a, doc_b FROM cand
       |  UNION ALL
       |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM cand),
       |reach AS (
       |  SELECT doc_id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.doc_a AS doc_id, r.label
       |  FROM edges e JOIN reach r ON e.doc_b = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id)""".stripMargin

  val qDedupComponentsSql: String =
    s"""WITH RECURSIVE $propagationCteSql
       |SELECT label AS component, count(*) AS cluster_size,
       |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS members
       |FROM labels
       |GROUP BY label
       |HAVING count(*) > 1
       |ORDER BY component""".stripMargin

  /** Keeper selection per duplicate cluster by QUALITY instead of min-id:
    * the kept document is the cluster member with the most words (ties ->
    * smaller id) — the policy real pipelines use (keep the richest copy,
    * drop the truncated ones). The per-cluster argmax is a partial-aggregated
    * min(struct(-quality, id)) — no window, no shuffle beyond the cluster
    * key.
    */
  def qKeeperByQuality(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(s, dir)
      .select(col("doc_id"), size(words(col("text"))).as("n_words"))
    propagatedLabels(s, dir)
      .join(quality, "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("n_words")).as("neg"), col("doc_id").as("d"))).as("best"))
      .filter(col("cluster_size") > 1)
      .select(col("label").as("component"), col("cluster_size"),
        col("best.d").as("keeper"), (-col("best.neg")).as("keeper_words"))
      .orderBy(col("component"))
  }

  val qKeeperByQualitySql: String =
    s"""WITH RECURSIVE $propagationCteSql,
       |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents),
       |ranked AS (
       |  SELECT l.label, l.doc_id, q.n_words,
       |    count(*) OVER (PARTITION BY l.label) AS cluster_size,
       |    row_number() OVER (PARTITION BY l.label ORDER BY q.n_words DESC, l.doc_id) AS rk
       |  FROM labels l JOIN q ON l.doc_id = q.doc_id)
       |SELECT label AS component, cluster_size, doc_id AS keeper, n_words AS keeper_words
       |FROM ranked
       |WHERE rk = 1 AND cluster_size > 1
       |ORDER BY component""".stripMargin

  /** Segment-level dedup — the line-dedup stage of web-corpus pipelines
    * (RefinedWeb/CCNet style), re-expressed over k-word segments because the
    * synthetic corpus has no newlines: split each document into consecutive
    * non-overlapping [[SegW]]-word segments, count every segment's
    * corpus-wide occurrences, drop segments occurring more than
    * [[SegMaxOcc]] times (boilerplate: headers, nav bars, license blocks),
    * and reassemble each document from its surviving segments in original
    * order.
    *
    * Scale design (r6 rewrite — the r5 shape shuffled the exploded segment
    * STRINGS twice and localCheckpointed the whole exploded stream, 17.9x
    * DuckDB at sf1): segment strings never cross a segment-keyed exchange.
    * The only exploded stream the exchanges see is `(doc_id, pos, hash60)`
    * — three longs per segment ([[graft.plans.SegmentHashesExpr]], same
    * compiled tokenizer+assembly as [[graft.plans.SegmentsExpr]] so
    * boundaries can never diverge). Hash identity in place of string
    * identity is the same md5-prefix trade the jaccard operator made in
    * r4: 60-bit collisions are negligible below ~2^30 distinct segments
    * and the oracle hash-checks the result.
    *
    * The boilerplate SET (hashes occurring > maxOcc) is structurally small
    * relative to the corpus — it is the frequent tail, bounded by
    * totalSegments / maxOcc and in practice orders of magnitude below
    * that. So, exactly like the decontamination operator's broadcast gram
    * set, the operator is ADAPTIVE on its size:
    *
    *  - broadcast regime (set fits [[segmentDedup]]'s `broadcastMaxSet`):
    *    ONE partial-agg'd exchange computes the set, a bounded collect
    *    ships it as a sorted long array in a `Broadcast`, and
    *    [[graft.plans.SegmentCleanExpr]] re-derives and filters the
    *    segments in ONE codegen'd projection over the corpus — zero
    *    joins, zero string shuffles, two corpus scans total.
    *
    *  - join regime (set too big, or `broadcastMaxSet = 0` for a fully
    *    lazy plan): a left-semi probe marks boilerplate (doc_id, pos)
    *    pairs, a per-doc collect_set(pos) gathers them (longs only), and
    *    the single string-bearing exchange is the final doc_id join of
    *    the un-exploded doc rows (segment array in-row) against the
    *    sparse position sets; reassembly is a per-row filter-by-index.
    *
    * Fully-boilerplate and empty docs keep their row in both regimes
    * (n_kept=0, clean_text='').
    */
  private val SegW = 3
  private val SegMaxOcc = 2

  /** Library form over any (doc_id, text) frame; returns one row per doc:
    * (doc_id, n_segs, n_kept, clean_text). Documents whose every segment is
    * boilerplate survive with an empty clean_text (the caller decides
    * whether to drop them) — a left join keeps the row.
    */
  def segmentDedup(docs: DataFrame, w: Int = SegW, maxOcc: Int = SegMaxOcc,
      broadcastMaxSet: Int = 4 << 20): DataFrame = {
    require(w >= 1 && maxOcc >= 1, s"bad segment params w=$w maxOcc=$maxOcc")
    // the exploded stream the exchanges see: three longs per segment,
    // recomputed per consumer (a narrow codegen projection over the scan —
    // materializing it is what made the r5 shape pay >corpus-size blocks)
    // the count path carries ONE long per segment — pos is only generated
    // for the join regime's position sets, never for the occ-count exchange
    val boiler = docs
      .select(explode(graft.plans.SegmentsExpr.segmentHashes(col("text"), w)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
      .select(col("h"))

    // adaptive regime pick: a BOUNDED collect (limit cap+1 — an oversized
    // set can never OOM the driver, it just flips the regime)
    val smallSet: Option[Array[Long]] =
      if (broadcastMaxSet <= 0) None
      else {
        val a = boiler.limit(broadcastMaxSet + 1)
          .collect().map(_.getLong(0))
        if (a.length <= broadcastMaxSet) Some(a) else None
      }

    smallSet match {
      case Some(arr) =>
        // broadcast regime: sorted longs ride a Broadcast handle; the
        // whole per-doc side is ONE codegen'd projection, zero joins
        java.util.Arrays.sort(arr)
        val bc = docs.sparkSession.sparkContext.broadcast(arr)
        docs.select(col("doc_id"),
            graft.plans.SegmentsExpr.segmentClean(col("text"), bc, w).as("c"))
          .select(col("doc_id"), col("c.n_segs"), col("c.n_kept"),
            col("c.clean_text"))
      case None =>
        // join regime (fully lazy; unbounded boilerplate set)
        // strings stay inside the doc row — one row per doc, never exploded
        val base = docs.select(col("doc_id"),
          graft.plans.SegmentsExpr.segments(col("text"), w).as("segs"))
        // which positions of which docs are boilerplate — sparse (only
        // docs that contain a boilerplate segment), longs only
        val hashed = docs.select(col("doc_id"),
          posexplode(graft.plans.SegmentsExpr.segmentHashes(col("text"), w))
            .as(Seq("pos", "h")))
        val boilerPos = hashed.join(boiler, Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(collect_set(col("pos")).as("bpos"))
        // the ONE string-bearing exchange: un-exploded doc rows join the
        // sparse position sets on doc_id (unbounded side — not broadcast
        // structurally; AQE may at demo scale), then reassembly is a
        // per-row filter-by-index over the in-row segment array
        base.join(boilerPos, Seq("doc_id"), "left")
          .withColumn("bp", coalesce(col("bpos"), lit(Array.empty[Int])))
          .select(col("doc_id"),
            size(col("segs")).cast("long").as("n_segs"),
            (size(col("segs")) - size(col("bp"))).cast("long").as("n_kept"),
            array_join(
              filter(col("segs"), (s, i) => !array_contains(col("bp"), i)),
              " ").as("clean_text"))
    }
  }

  def qSegmentDedup(s: SparkSession, dir: String): DataFrame =
    // lazy localCheckpoint of the RESULT (one row per doc, not the r5
    // exploded stream): the trailing orderBy's range-partitioner sampling
    // pass would otherwise re-run the reassembly projection (order
    // discipline — sample cached blocks, not the plan); measured ~0.25 s
    // cheaper than recompute at sf1
    CheckpointScope.local(segmentDedup(Tables.documents(s, dir)), eager = false)
      .orderBy(col("doc_id"))

  val qSegmentDedupSql: String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |idx AS (SELECT doc_id, ws,
       |          unnest(generate_series(0, CAST(ceil(len(ws) / $SegW.0) AS BIGINT) - 1)) AS pos
       |        FROM base),
       |segs AS (SELECT doc_id, pos,
       |           array_to_string(ws[(pos * $SegW + 1):(pos * $SegW + $SegW)], ' ') AS seg
       |         FROM idx),
       |boiler AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) > $SegMaxOcc),
       |re AS (SELECT doc_id, count(*) AS n_kept,
       |         string_agg(seg, ' ' ORDER BY pos) AS clean_text
       |       FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)
       |       GROUP BY doc_id)
       |SELECT b.doc_id,
       |  CAST(ceil(len(b.ws) / $SegW.0) AS BIGINT) AS n_segs,
       |  COALESCE(r.n_kept, 0) AS n_kept,
       |  COALESCE(r.clean_text, '') AS clean_text
       |FROM base b LEFT JOIN re r USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** Repeated exact-substring spans — the ExactSubstr stage of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), at k-token window granularity: a token position belongs
    * to a repeated span iff some k-token window covering it occurs
    * verbatim more than `maxOcc` times corpus-wide; the operator emits
    * each document's MAXIMAL merged spans. Unlike [[segmentDedup]]'s
    * fixed non-overlapping segments, windows overlap at every alignment,
    * so a copied passage is caught wherever it starts.
    *
    * Scale design: window occurrence counting is ONE partial-agg'd
    * exchange on the 60-bit window hash ([[graft.plans.ShingleHashesExpr]]
    * — `(doc_id, pos, hash60)` longs, window strings never shuffle); the
    * repeated-hash set marks flagged positions via a left-semi probe
    * (small build side — AQE broadcasts it at demo scale); and interval
    * merging is a per-document gaps-and-islands window (partitioned by
    * doc_id, so it parallelizes across documents and no partition ever
    * sees more than one document's flagged windows).
    */
  private val SpanK = 5
  private val SpanMaxOcc = 1

  def repeatedSpans(docs: DataFrame, k: Int = SpanK,
      maxOcc: Int = SpanMaxOcc): DataFrame = {
    require(k >= 1 && maxOcc >= 1, s"bad span params k=$k maxOcc=$maxOcc")
    val wins = docs.select(col("doc_id"),
      posexplode(graft.plans.SegmentsExpr.shingleHashes(col("text"), k))
        .as(Seq("pos", "h")))
    val rep = wins.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc).select(col("h"))
    val flagged = wins.join(rep, Seq("h"), "left_semi")
    // gaps-and-islands: a window starts a new span iff its coverage leaves
    // a GAP after the running max end of all earlier windows in the doc —
    // pos > prevEnd + 1, so exactly-abutting coverage ([..e] then [e+1..])
    // merges into one maximal span
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + k - 1).over(
      byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    flagged
      .withColumn("new_span",
        when(col("pos") > coalesce(prevEnd, lit(-2L)) + 1L, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("span_id")
  }

  def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    repeatedSpans(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("span_start"))

  val qRepeatedSpansSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, pos,
       |    array_to_string(w[(pos + 1):(pos + $SpanK)], ' ') AS win
       |  FROM (SELECT doc_id, w,
       |          unnest(generate_series(0, len(w) - $SpanK)) AS pos
       |        FROM ws WHERE len(w) >= $SpanK)),
       |rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) > $SpanMaxOcc),
       |flagged AS (SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM rep)),
       |marked AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos > COALESCE(max(pos + $SpanK - 1) OVER (
       |           PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |         THEN 1 ELSE 0 END AS new_span
       |  FROM flagged),
       |spans AS (
       |  SELECT doc_id, pos,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |  FROM marked)
       |SELECT doc_id, min(pos) AS span_start,
       |  max(pos) + $SpanK - 1 AS span_end, count(*) AS n_windows
       |FROM spans
       |GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin

  /** Exact longest-repeated-substring lengths — the suffix-array half of
    * Lee et al. 2022's ExactSubstr that [[repeatedSpans]] only
    * approximates at fixed window width: for every token position whose
    * `minLen`-token prefix occurs verbatim more than once corpus-wide,
    * the EXACT length (capped at `cap` tokens) of the longest substring
    * starting there that occurs at least twice. Unlike the windowed form
    * it reports arbitrary match lengths (incl. `minLen <= len < SpanK`
    * repeats the k=5 windows can never see) and attributes each position
    * its true maximal extent.
    *
    * Suffix-array construction, distributed: materializing and sorting
    * full suffixes is the single-node form; here the classic structure is
    * decomposed so nothing ever holds the corpus in one place.
    *
    *  1. candidate pruning — ONE long-only exchange (the same
    *     `(doc_id, pos, hash)` stream as [[repeatedSpans]]) keeps only
    *     positions whose `minLen`-gram hash repeats. Everything else has
    *     match_len < minLen by definition and exits the plan; in a real
    *     web corpus that is the overwhelming majority of positions.
    *  2. bucketed suffix sort — each candidate materializes its suffix
    *     TRUNCATED to `cap` tokens (the per-doc suffix-sampling trade:
    *     match lengths clamp at cap, exactly like ExactSubstr's
    *     threshold makes longer matches equi-actionable), and suffixes
    *     sort WITHIN their minLen-gram group (`Window.partitionBy(h)`),
    *     never globally: the max-LCP partner of a candidate shares its
    *     minLen-gram by definition, so it lives in the same group, and
    *     no lexicographic interloper can separate two suffixes sharing
    *     >= minLen tokens (any suffix sorting between them shares the
    *     same prefix). Groups are occurrence counts of a single exact
    *     minLen-gram — small and hash-distributed (max 6 at sf0.1); a
    *     boilerplate-degenerate gram would cap via the same salting
    *     pattern as [[bucketPairs]] if a corpus ever needed it.
    *  3. neighbor LCP — in suffix-array order the maximal common prefix
    *     of any suffix is achieved at an adjacent suffix, so one
    *     lag/lead window pass computes exact match lengths; the LCP is
    *     the declarative zip_with/first-mismatch form, bit-identical to
    *     the DuckDB twin's list_zip.
    *
    * 60-bit gram-hash collisions are harmless here, not just unlikely: a
    * collision merges two DIFFERENT grams into one sort group, but their
    * suffixes share < minLen tokens, so they can neither separate true
    * neighbors (shared-prefix argument above) nor contribute an LCP that
    * survives the >= minLen output floor — enforced explicitly by the
    * final filter below (a no-op absent collisions: every true in-group
    * neighbor shares the gram, so its LCP is >= minLen by construction).
    */
  def suffixMatchLens(docs: DataFrame, minLen: Int = SuffixMinLen,
      cap: Int = SuffixCap, degenCap: Int = SuffixDegenCap): DataFrame = {
    require(minLen >= 1 && cap >= minLen, s"bad suffix params minLen=$minLen cap=$cap")
    val wins = docs.select(col("doc_id"),
      posexplode(graft.plans.SegmentsExpr.shingleHashes(col("text"), minLen))
        .as(Seq("pos", "h")))
    // localCheckpoint (NOT persist): the degenerate-gram gate below and
    // the candidate semi-join both consume this aggregate, which must
    // compute exactly once per invocation. A persist would ALSO dedupe
    // structurally-equal plans across invocations (CacheManager matches
    // logical plans), silently turning repeat bench runs into cache
    // reads; the checkpoint is private to this call, so every run pays
    // the windows scan honestly. The repeated-gram set is tiny (occ > 1
    // hashes only) and executor-local durability is enough — a lost
    // block just fails the query, it never corrupts it.
    val occs = CheckpointScope.local(
      wins.groupBy(col("h")).agg(count(lit(1)).as("occ")).filter(col("occ") > 1))
    // degenerate-gram gate: ONE light aggregation job (windows scan +
    // partial count, no token join) decides the plan shape up front —
    // the sorted path's boundary exchange is eager, and unioning it in
    // unconditionally tripled the sf1 bench time on a corpus with no
    // degenerate grams at all
    val hasDegen = !occs.filter(col("occ") > degenCap).isEmpty
    // token arrays ride the doc_id join once per doc; the capped slice is
    // projected in the same stage, so no full suffix ever materializes.
    // SHUFFLE_HASH (build = the 3-longs-per-row candidate side) pins the
    // plan Catalyst must NOT solve by broadcast: its size estimate for the
    // split() side is bytes-of-parquet, but the deserialized token arrays
    // are the whole corpus — at sf1 the auto-broadcast of `toks` was both
    // the bench variance (hundreds of MB re-broadcast per run) and exactly
    // the plan that cannot exist at 100 TB
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    def suffOf(cand: DataFrame, extra: Seq[Column]): DataFrame =
      cand.hint("shuffle_hash").join(toks, Seq("doc_id"))
        .select(Seq(col("doc_id"), col("pos"), col("h"),
          slice(col("w"), col("pos") + 1, lit(cap)).as("sfx")) ++ extra: _*)
    val grp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("sfx"))
    // first-mismatch LCP as ONE compiled walk ([[graft.plans.ArrLcpExpr]],
    // ExprSpec-pinned bit-identical to the declarative zip_with/
    // array_position chain the DuckDB twin mirrors — the HOF form is
    // CodegenFallback and materialized a boolean array per comparison,
    // twice per candidate in the window stage)
    def lcp(a: Column, b: Column): Column = when(b.isNull, lit(0L))
      .otherwise(graft.plans.ArrLcpExpr.arrLcp(a, b))
    def windowLens(suff: DataFrame): DataFrame = suff
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        greatest(
          lcp(col("sfx"), lag(col("sfx"), 1).over(grp)),
          lcp(col("sfx"), lead(col("sfx"), 1).over(grp))).as("match_len"))
    val lens = if (!hasDegen) {
      windowLens(suffOf(wins.join(occs.select(col("h")), Seq("h"), "left_semi"), Nil))
    } else {
      // per-group window size is BOUNDED by degenCap: a gram whose occ
      // exceeds it (boilerplate — a disclaimer repeated across millions
      // of docs) would put its whole group in one window task; those
      // rows route through the range-sorted neighbor walk instead, which
      // splits any group across partitions and exchanges only 2 boundary
      // rows per partition through the driver — exact, same sort order,
      // same LCP
      val suff = suffOf(wins.join(occs, Seq("h")), Seq(col("occ")))
      windowLens(suff.filter(col("occ") <= degenCap))
        .unionByName(sortedNeighborLens(suff.filter(col("occ") > degenCap)))
    }
    lens
      // the documented collision floor, made explicit: a 60-bit gram-hash
      // collision can only ADD rows whose match_len < minLen (the merged
      // grams share < minLen tokens), which the string-grouped oracle
      // lacks — this filter removes exactly those and nothing else
      .filter(col("match_len") >= minLen)
  }

  /** Exact lag/lead LCP over a globally RANGE-SORTED `(h, sfx)` stream —
    * the degenerate-gram path: unlike `Window.partitionBy(h)`, a range
    * sort never materializes a gram group in one task (Spark splits the
    * sorted run across partitions on row count), and adjacency across
    * the partition cuts is restored by exchanging each partition's first
    * and last rows through the driver — 2·P rows total, independent of
    * group size. Neighbors only count within the same gram hash, so the
    * walk computes exactly what the window form computes; DedupSpec pins
    * the two paths equal row-for-row on a planted boilerplate corpus.
    */
  private def sortedNeighborLens(suff: DataFrame): DataFrame = {
    val s = suff.sparkSession
    import s.implicits._
    val ds = suff
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"), col("sfx"))
      .as[(Long, Long, Long, Array[String])]
      .repartitionByRange(col("h"), col("sfx"))
      .sortWithinPartitions(col("h"), col("sfx"))
    val rdd = ds.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def lcpOf(a: Array[String], b: Array[String]): Long = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i.toLong
    }
    // (partitionIdx, first (h, sfx), last (h, sfx)) of each nonempty partition
    val bounds = rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next(); var last = first
        while (it.hasNext) last = it.next()
        Iterator.single((i, (first._3, first._4), (last._3, last._4)))
      }
    }.collect().sortBy(_._1)
    val nParts = rdd.getNumPartitions
    val prevOf = new Array[(Long, Array[String])](nParts)
    val nextOf = new Array[(Long, Array[String])](nParts)
    for (((i, _, lastRow), bi) <- bounds.zipWithIndex) {
      if (bi + 1 < bounds.length) prevOf(bounds(bi + 1)._1) = lastRow
      if (bi > 0) nextOf(bounds(bi - 1)._1) = bounds(bi)._2
      val _ = i
    }
    val prevB = s.sparkContext.broadcast(prevOf)
    val nextB = s.sparkContext.broadcast(nextOf)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val pPrev = Option(prevB.value(pi))
      val pNext = Option(nextB.value(pi))
      new Iterator[(Long, Long, Long)] {
        private var prev: Option[(Long, Array[String])] =
          pPrev // last row of the preceding nonempty partition
        private var cur: Option[(Long, Long, Long, Array[String])] =
          if (it.hasNext) Some(it.next()) else None
        def hasNext: Boolean = cur.isDefined
        def next(): (Long, Long, Long) = {
          val c = cur.get
          val nxt: Option[(Long, Array[String])] =
            if (it.hasNext) { val n = it.next(); cur = Some(n); Some((n._3, n._4)) }
            else { cur = None; pNext }
          def side(nb: Option[(Long, Array[String])]): Long = nb match {
            case Some((nh, nsfx)) if nh == c._3 => lcpOf(c._4, nsfx)
            case _ => 0L
          }
          val len = math.max(side(prev), side(nxt))
          prev = Some((c._3, c._4))
          (c._1, c._2, len)
        }
      }
    }
    // eager localCheckpoint so the persisted sort RDD can be released
    // HERE — long-lived sessions running the degenerate path repeatedly
    // would otherwise accumulate cached blocks until the ContextCleaner
    // happens to GC the handle (a lost checkpoint block fails the query,
    // it never corrupts it — the suffixMatchLens durability contract)
    val res = CheckpointScope.local(s.createDataset(out).toDF("doc_id", "pos", "match_len"))
    rdd.unpersist(blocking = false)
    res
  }

  // declared ABOVE the SQL vals that interpolate them — a Scala object
  // initializes vals top-down, so a builder string defined earlier would
  // silently capture 0
  private val SuffixMinLen = 5
  private val SuffixCap = 32
  private val SuffixDegenCap = 1024

  // ---------------------------------- uncapped LRS via prefix doubling --

  /** UNCAPPED exact match lengths — [[suffixMatchLens]] without the
    * [[SuffixCap]] truncation, built on the classic suffix-array
    * prefix-doubling construction instead of materialized suffix slices:
    *
    *  1. rank₁ orders every token position by its token (a vocabulary
    *     rank — |V| is sublinear in any natural corpus, broadcast-joined);
    *  2. each doubling round sorts by (rank_w, rank_w@pos+w) — ONE
    *     range-sort exchange plus a shift join — and assigns the new
    *     rank as the sorted RUN-START index ([[runStartRank]]: run
    *     adjacency across partition cuts is restored by the same
    *     2-rows-per-partition driver exchange as [[sortedNeighborLens]],
    *     so no task ever holds a rank class). Rounds stop when ranks go
    *     fully distinct or stop separating — a no-progress round proves
    *     every remaining collision is a pair of IDENTICAL suffixes
    *     (rank_w-equal ⟹ rank_2w-equal ⟹ equal at every multiple of w).
    *  3. candidates (repeated minLen-grams, as in the capped form) sort
    *     by final rank — scalar keys, so the neighbor walk is the
    *     degenerate-safe range-sort path UNCONDITIONALLY — and each
    *     neighbor pair's LCP is recovered from the retained rank tables:
    *     top-width equality means the suffixes are identical (match =
    *     min remaining length, the plateau theorem above); otherwise a
    *     greedy descent over widths W/2…1 adds w whenever rank_w matches
    *     at the advanced offsets — 2 pruned joins per level over the
    *     bounded pair table, never a token re-read.
    *
    * Scale shape: O(log maxRepeat) rounds (~8 here), each one sort of
    * the corpus positions; the LCP walk touches only candidate pairs.
    * The 60-bit gram-hash collision floor argument carries over verbatim
    * (foreign neighbors share < minLen tokens, removed by the final
    * filter). DedupSpec pins this equal to a no-cap brute force on a
    * planted 40-token repeat the capped form truncates.
    */
  def suffixMatchLensFull(docs: DataFrame, minLen: Int = SuffixMinLen): DataFrame =
    suffixMatchPairsFull(docs, minLen)
      .select(col("doc_a").as("doc_id"), col("pos_a").as("pos"), col("match_len"))
      .groupBy(col("doc_id"), col("pos"))
      .agg(max(col("match_len")).as("match_len"))
      // the collision floor, exactly as the capped form
      .filter(col("match_len") >= minLen)

  /** The uncapped machinery's PAIR table — one row per SA-adjacent
    * same-gram candidate pair `(doc_a, pos_a, doc_b, pos_b, match_len)`,
    * both directions. [[suffixMatchLensFull]] is its per-position max;
    * [[spanSharingClusters]] consumes the pair identities directly.
    * Adjacency is a connectivity-preserving thinning of the all-pairs
    * ≥-threshold graph (suffix-order lcp is the min of adjacent lcps), so
    * closures over these edges equal closures over all qualifying pairs.
    */
  private[operators] def suffixMatchPairsFull(docs: DataFrame,
      minLen: Int = SuffixMinLen): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wins = docs.select(col("doc_id"),
      posexplode(graft.plans.SegmentsExpr.shingleHashes(col("text"), minLen))
        .as(Seq("pos", "h")))
    val occs = CheckpointScope.local(wins.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select(col("h")))
    val cand = wins.join(occs, Seq("h"), "left_semi")
      .select(col("h"), col("doc_id"), col("pos").cast("long").as("pos"))
    // all token positions of docs that hold at least one candidate — a
    // suffix never crosses a doc boundary, so out-of-scope docs cannot
    // influence any comparison
    val scoped = docs.join(cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val positions = CheckpointScope.local(scoped
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok")))
    val total = positions.count()
    val docLen = CheckpointScope.local(
      positions.groupBy(col("doc_id")).agg((max(col("pos")) + 1L).as("len")))
    // rank₁: run-start rank of the raw tokens — the same range-sort +
    // boundary-exchange round as every doubling step, so NO vocabulary
    // table exists at any |V| (the r12 broadcast form assumed |V|
    // sublinear; closed)
    var cur = runStartRankTok(positions)
    var levels = List((1L, cur)) // (width, rank table), head = widest
    var distinct = cur.agg(countDistinct(col("rank"))).head().getLong(0)
    var off = 1L
    var converged = distinct == total
    while (!converged) {
      val sh = cur.select(col("doc_id"), (col("pos") - off).as("pos"),
        col("rank").as("r2"))
      val paired = cur.withColumnRenamed("rank", "r1")
        .join(sh, Seq("doc_id", "pos"), "left")
        .na.fill(-1L, Seq("r2")) // past-end sorts first: prefix < extension
      val next = runStartRank(paired)
      val nd = next.agg(countDistinct(col("rank"))).head().getLong(0)
      if (nd == distinct) {
        // plateau: every surviving collision is an identical-suffix pair;
        // the unretained rank table's checkpoint blocks are dead
        CheckpointScope.release(next)
        converged = true
      } else {
        cur = next; off *= 2
        levels = (off, cur) :: levels
        distinct = nd
        converged = distinct == total
      }
    }
    // candidates in final suffix order; neighbors within the same gram
    val cr = cand.join(cur, Seq("doc_id", "pos"))
      .select(col("h"), col("rank"), col("doc_id"), col("pos"))
    var pairs = sortedNeighborPairs(cr)
      .join(docLen.select(col("doc_id").as("doc_a"), col("len").as("len_a")), Seq("doc_a"))
      .join(docLen.select(col("doc_id").as("doc_b"), col("len").as("len_b")), Seq("doc_b"))
    // LCP walk over the retained rank tables
    val (topW, topRank) = levels.head
    val _ = topW
    pairs = CheckpointScope.local(pairs
      .join(topRank.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("rank").as("ra")), Seq("doc_a", "pos_a"))
      .join(topRank.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
        col("rank").as("rb")), Seq("doc_b", "pos_b"))
      .withColumn("done", col("ra") === col("rb"))
      .withColumn("lcp", lit(0L))
      .drop("ra", "rb"))
    // greedy descent over widths W/2…1: rank_w equality at the advanced
    // offsets proves the next w tokens equal, so lcp advances by w; a
    // past-end offset joins to nothing (null ≠ anything) and blocks.
    // Each level is 2 joins of the BOUNDED pair table against a
    // checkpointed rank table — the corpus text is never re-read.
    for ((w, rk) <- levels.tail) {
      val ra = rk.select(col("doc_id").as("_da"), col("pos").as("_pa"),
        col("rank").as("_ra"))
      val rb = rk.select(col("doc_id").as("_db"), col("pos").as("_pb"),
        col("rank").as("_rb"))
      val stepped = CheckpointScope.local(pairs
        .join(ra, col("doc_a") === col("_da") &&
          col("pos_a") + col("lcp") === col("_pa"), "left")
        .join(rb, col("doc_b") === col("_db") &&
          col("pos_b") + col("lcp") === col("_pb"), "left")
        .withColumn("lcp", when(!col("done") && col("_ra").isNotNull &&
          col("_ra") === col("_rb"), col("lcp") + w).otherwise(col("lcp")))
        .drop("_da", "_pa", "_ra", "_db", "_pb", "_rb"))
      // each eager checkpoint supersedes the previous level's — without
      // the release a deep descent accumulates O(levels) dead pair tables
      CheckpointScope.release(pairs)
      pairs = stepped
    }
    // the returned plan reads ONLY the final pair checkpoint: the retained
    // rank tables, token positions, doc lengths and occ filter are all dead
    for ((_, rk) <- levels) CheckpointScope.release(rk)
    Seq(positions, docLen, occs).foreach(CheckpointScope.release)
    pairs
      // done = identical suffixes (the plateau theorem): match is the
      // full remaining length; otherwise the walked lcp, capped to the
      // remaining lengths (a final block matching THROUGH both suffixes'
      // identical endings overshoots by construction — the cap is exact
      // there because overshoot ⟺ the suffixes ended equal)
      .withColumn("match_len",
        when(col("done"), least(col("len_a") - col("pos_a"), col("len_b") - col("pos_b")))
          .otherwise(least(col("lcp"),
            col("len_a") - col("pos_a"), col("len_b") - col("pos_b"))))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("match_len"))
  }

  /** Directed SA-neighbor pairs of the candidate stream — the
    * [[sortedNeighborLens]] boundary-exchange walk over SCALAR sort keys
    * `(h, rank, doc_id, pos)`: every candidate pairs with its adjacent
    * same-gram rows in global suffix order, groups split freely across
    * partitions, and adjacency across the cuts rides on 2 boundary rows
    * per partition through the driver.
    */
  private def sortedNeighborPairs(cr: DataFrame): DataFrame = {
    val s = cr.sparkSession
    import s.implicits._
    val ds = cr.select(col("h"), col("rank"), col("doc_id"), col("pos"))
      .as[(Long, Long, Long, Long)]
      .repartitionByRange(col("h"), col("rank"), col("doc_id"), col("pos"))
      .sortWithinPartitions(col("h"), col("rank"), col("doc_id"), col("pos"))
    val rdd = ds.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next(); var last = first
        while (it.hasNext) last = it.next()
        Iterator.single((i, first, last))
      }
    }.collect().sortBy(_._1)
    val nParts = rdd.getNumPartitions
    val prevOf = new Array[(Long, Long, Long, Long)](nParts)
    val nextOf = new Array[(Long, Long, Long, Long)](nParts)
    for (((i, firstRow, lastRow), bi) <- bounds.zipWithIndex) {
      if (bi + 1 < bounds.length) prevOf(bounds(bi + 1)._1) = lastRow
      if (bi > 0) nextOf(bounds(bi - 1)._1) = firstRow
      val _ = i
    }
    val prevB = s.sparkContext.broadcast(prevOf)
    val nextB = s.sparkContext.broadcast(nextOf)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val pPrev = Option(prevB.value(pi))
      val pNext = Option(nextB.value(pi))
      new Iterator[(Long, Long, Long, Long)] {
        private var prev = pPrev
        private var cur: Option[(Long, Long, Long, Long)] =
          if (it.hasNext) Some(it.next()) else None
        private var pending: List[(Long, Long, Long, Long)] = Nil
        private def advance(): Unit = while (pending.isEmpty && cur.isDefined) {
          val c = cur.get
          val nxt = if (it.hasNext) { val n = it.next(); cur = Some(n); Some(n) }
            else { cur = None; pNext }
          def pairOf(nb: Option[(Long, Long, Long, Long)]) = nb match {
            case Some(n) if n._1 == c._1 => List((c._3, c._4, n._3, n._4))
            case _ => Nil
          }
          pending = pairOf(prev) ++ pairOf(nxt)
          prev = Some(c)
        }
        def hasNext: Boolean = { advance(); pending.nonEmpty }
        def next(): (Long, Long, Long, Long) = {
          advance(); val h = pending.head; pending = pending.tail; h
        }
      }
    }
    val res = CheckpointScope.local(s.createDataset(out).toDF("doc_a", "pos_a", "doc_b", "pos_b"))
    rdd.unpersist(blocking = false)
    res
  }

  /** Order-preserving rank of `(r1, r2)` keys as the sorted RUN-START
    * row index — prefix doubling needs equal-keys-equal-rank and
    * order-consistency, not density, so one range sort plus the
    * 2-rows-per-partition boundary exchange assigns ranks without any
    * per-key grouping: a rank class (however degenerate) is never held
    * by one task.
    */
  private def runStartRank(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    runStartRankCore(s, df.select(col("doc_id"), col("pos"), col("r1"), col("r2"))
      .as[(Long, Long, Long, Long)]
      .repartitionByRange(col("r1"), col("r2"))
      .sortWithinPartitions(col("r1"), col("r2"))
      .rdd.map(r => (r._1, r._2, (r._3, r._4))))
  }

  /** Run-start rank of the raw TOKEN column — rank₁ of the prefix
    * doubling, by the SAME range-sort + boundary-exchange machinery as
    * the numeric rounds: no distinct-vocabulary table is ever built or
    * broadcast, so a corpus whose vocabulary grows with the corpus
    * (UUIDs, hashes, code identifiers) costs the same one exchange as
    * every other round. Replaces the r12 broadcast-join form, whose
    * |V|-sublinear assumption this closes.
    */
  private def runStartRankTok(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    runStartRankCore(s, df.select(col("doc_id"), col("pos"), col("tok"))
      .as[(Long, Long, String)]
      .repartitionByRange(col("tok"))
      .sortWithinPartitions(col("tok"))
      .rdd)
  }

  /** The shared walk over a range-SORTED (doc_id, pos, key) stream: the
    * boundary exchange ships 2 rows per partition to the driver, and the
    * per-partition pass assigns each row its run's global start index.
    * Only key EQUALITY is consulted here (ordering happened in the sort),
    * so any key type rides through.
    */
  private def runStartRankCore[K](s: SparkSession,
      rdd0: org.apache.spark.rdd.RDD[(Long, Long, K)]): DataFrame = {
    import s.implicits._
    val rdd = rdd0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per nonempty partition: row count, first/last key, local index of
    // the last run's first row
    val bounds = rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var n = 0L
        var first: K = null.asInstanceOf[K]
        var last: K = null.asInstanceOf[K]
        var seen = false
        var lastRunStart = 0L
        while (it.hasNext) {
          val r = it.next(); val k = r._3
          if (n == 0) first = k
          if (!seen || k != last) lastRunStart = n
          last = k; seen = true; n += 1
        }
        Iterator.single((i, n, first, last, lastRunStart))
      }
    }.collect().sortBy(_._1)
    val nParts = rdd.getNumPartitions
    val startIdx = new Array[Long](nParts) // global index of partition's first row
    val carry = new Array[Long](nParts) // global run start if first key chains; -1
    var cum = 0L
    var prevLast: Option[K] = None
    var prevLastRunStart = -1L
    for ((i, n, first, last, lrs) <- bounds) {
      startIdx(i) = cum
      carry(i) = if (prevLast.contains(first)) prevLastRunStart else -1L
      // this partition's last run may itself be a continuation when the
      // whole partition is one key
      prevLastRunStart =
        if (lrs == 0L && carry(i) >= 0L && first == last) carry(i)
        else cum + lrs
      prevLast = Some(last)
      cum += n
    }
    val startB = s.sparkContext.broadcast(startIdx)
    val carryB = s.sparkContext.broadcast(carry)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var idx = startB.value(pi)
      var runStart = -1L
      var prevKey: Option[K] = None
      it.map { r =>
        val k = r._3
        if (prevKey.isEmpty)
          runStart = if (carryB.value(pi) >= 0L) carryB.value(pi) else idx
        else if (!prevKey.contains(k)) runStart = idx
        prevKey = Some(k)
        idx += 1
        (r._1, r._2, runStart)
      }
    }
    val res = CheckpointScope.local(s.createDataset(out).toDF("doc_id", "pos", "rank"))
    rdd.unpersist(blocking = false)
    res
  }

  def qSuffixLrsFull(s: SparkSession, dir: String): DataFrame =
    suffixMatchLensFull(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("pos"))

  val qSuffixLrsFullSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - $SuffixMinLen)) AS pos
       |      FROM ws WHERE len(w) >= $SuffixMinLen),
       |wins AS (SELECT doc_id, pos,
       |           array_to_string(w[(pos + 1):(pos + $SuffixMinLen)], ' ') AS win,
       |           w[(pos + 1):] AS sfx
       |         FROM p),
       |rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) > 1),
       |cand AS (SELECT doc_id, pos, win, sfx FROM wins
       |         WHERE win IN (SELECT win FROM rep)),
       |nb AS (SELECT doc_id, pos, sfx,
       |         lag(sfx) OVER (PARTITION BY win ORDER BY sfx) AS prv,
       |         lead(sfx) OVER (PARTITION BY win ORDER BY sfx) AS nxt
       |       FROM cand)
       |SELECT doc_id, pos, greatest(
       |  CASE WHEN prv IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, prv),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(prv))) END,
       |  CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, nxt),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(nxt))) END) AS match_len
       |FROM nb
       |ORDER BY doc_id, pos""".stripMargin

  /** Documents sharing a repeated span of at least this many tokens
    * cluster together — passage granularity, well above the 5-token
    * collision floor: a shared sentence is not shared provenance, a
    * shared 20-token passage is.
    */
  val SpanShareMin = 20

  /** Longest-match document clustering — the passage-granularity analog
    * of [[componentLabels]] over LSH candidates: docs are connected iff
    * they share a repeated span of ≥ `minShare` tokens ANYWHERE (the
    * uncapped suffix machinery finds every such span; whole-doc
    * near-dup misses a long quote inside otherwise-different documents).
    * Edges are the SA-adjacent pair table filtered to cross-doc matches
    * ≥ `minShare` — a connectivity-preserving thinning of the all-pairs
    * graph (lcp(x,z) = min of adjacent lcps), so the components equal
    * the all-qualifying-pairs closure without materializing O(occ²)
    * pairs per repeated passage. Returns (doc_id, label) for every doc;
    * singletons label themselves.
    */
  def spanSharingClusters(docs: DataFrame, minLen: Int = SuffixMinLen,
      minShare: Int = SpanShareMin): DataFrame = {
    val edges = suffixMatchPairsFull(docs, minLen)
      .filter(col("match_len") >= minShare && col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    componentLabels(docs.select(col("doc_id")), "doc_id", edges, "doc_a", "doc_b")
  }

  /** Span-sharing clusters over the documents table with the keeper
    * machinery applied: per multi-doc cluster, its members and the
    * richest member (most words, ties → smaller id) as keeper — the
    * passage-dedup policy a training pipeline applies to quote/template
    * families the whole-doc dedups cannot see.
    */
  def qDedupSpanClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val quality = docs.select(col("doc_id"), size(words(col("text"))).as("n_words"))
    spanSharingClusters(docs)
      .join(quality, "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        min(struct((-col("n_words")).as("neg"), col("doc_id").as("d"))).as("best"))
      .filter(col("cluster_size") > 1)
      .select(col("label").as("component"), col("cluster_size"),
        concat_ws(",", col("members")).as("members"), col("best.d").as("keeper"))
      .orderBy(col("component"))
  }

  val qDedupSpanClustersSql: String =
    s"""WITH RECURSIVE ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - $SuffixMinLen)) AS pos
       |      FROM ws WHERE len(w) >= $SuffixMinLen),
       |wins AS (SELECT doc_id, pos,
       |           array_to_string(w[(pos + 1):(pos + $SuffixMinLen)], ' ') AS win,
       |           w[(pos + 1):] AS sfx
       |         FROM p),
       |rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) > 1),
       |cand AS (SELECT doc_id, pos, win, sfx FROM wins
       |         WHERE win IN (SELECT win FROM rep)),
       |nb AS (SELECT doc_id, sfx,
       |         lag(sfx) OVER w AS prv, lag(doc_id) OVER w AS prv_doc,
       |         lead(sfx) OVER w AS nxt, lead(doc_id) OVER w AS nxt_doc
       |       FROM cand WINDOW w AS (PARTITION BY win ORDER BY sfx)),
       |pe AS (
       |  SELECT doc_id AS da, prv_doc AS db, coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, prv),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(prv))) AS ml
       |  FROM nb WHERE prv IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id AS da, nxt_doc AS db, coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, nxt),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(nxt))) AS ml
       |  FROM nb WHERE nxt IS NOT NULL),
       |ed AS (SELECT least(da, db) AS da, greatest(da, db) AS db
       |       FROM pe WHERE ml >= $SpanShareMin AND da <> db GROUP BY 1, 2),
       |edges AS (SELECT da, db FROM ed UNION ALL SELECT db AS da, da AS db FROM ed),
       |reach AS (
       |  SELECT doc_id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.da AS doc_id, r.label
       |  FROM edges e JOIN reach r ON e.db = r.doc_id),
       |labels AS (SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
       |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents),
       |g AS (SELECT label, count(*) AS cluster_size,
       |        array_to_string(list(doc_id ORDER BY doc_id), ',') AS members
       |      FROM labels GROUP BY label HAVING count(*) > 1),
       |ranked AS (
       |  SELECT l.label, l.doc_id,
       |    row_number() OVER (PARTITION BY l.label ORDER BY q.n_words DESC, l.doc_id) AS rk
       |  FROM labels l JOIN q USING (doc_id))
       |SELECT g.label AS component, g.cluster_size, g.members, r.doc_id AS keeper
       |FROM g JOIN ranked r ON g.label = r.label AND r.rk = 1
       |ORDER BY component""".stripMargin

  /** Per-document boilerplate mask — the training-pipeline CONSUMER of
    * the uncapped lens table: every position whose suffix shares ≥
    * `minLen` tokens with some other position is part of a repeated
    * region, so merging the overlapping `[pos, pos+match_len)` intervals
    * per doc yields the doc's boilerplate coverage (disclaimers,
    * headers, templated spans — the text a pretraining pipeline strips
    * or downweights). Interval merging is the gaps-and-islands window
    * over the (doc-bounded) lens rows: an interval starts a new island
    * iff it begins past the running max end. Output per doc:
    * `(n_tokens, boiler_tokens, n_spans, boiler_ppm)` with the ppm an
    * exact integral division — docs with no repeats report zeros.
    * Because the lens table is UNCAPPED, a 99-token duplicated document
    * masks as 100% boilerplate; the capped form would undercount any
    * span past 32 tokens.
    */
  def boilerplateMask(docs: DataFrame, minLen: Int = SuffixMinLen): DataFrame = {
    val per = boilerplateSpans(docs, minLen).groupBy(col("doc_id"))
      .agg(sum(col("en") - col("st")).as("boiler_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("boiler_tokens", "n_spans"))
      .withColumn("boiler_ppm",
        expr("boiler_tokens * 1000000 div n_tokens"))
  }

  /** Merged boilerplate intervals `(doc_id, isl, st, en)` — the shared
    * spine of the mask and strip forms: uncapped lens rows → per-doc
    * gaps-and-islands merge of overlapping `[pos, pos+match_len)`.
    */
  private def boilerplateSpans(docs: DataFrame, minLen: Int): DataFrame = {
    val lens = suffixMatchLensFull(docs, minLen)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = lens
      .withColumn("prev_end", max(col("pos") + col("match_len"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(w))
    isl.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("st"), max(col("pos") + col("match_len")).as("en"))
  }

  /** Boilerplate STRIP — the mask applied: reconstruct each document's
    * text with every masked token removed, the form a pretraining
    * pipeline actually feeds downstream. Fully relational (no
    * index-lambda reconstruction): covered positions explode from the
    * merged spans, an anti-join keeps the rest, and the cleaned text
    * re-assembles position-ordered — identical mechanics on both
    * engines, so the STRINGS hash-compare. A fully-duplicated doc
    * strips to empty.
    */
  def boilerplateStrip(docs: DataFrame, minLen: Int = SuffixMinLen): DataFrame = {
    val covered = boilerplateSpans(docs, minLen)
      .select(col("doc_id"), explode(sequence(col("st"), col("en") - 1)).as("pos"))
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    // per-doc reassembly buffer: ONE aggregation buffer holds one
    // document's surviving (pos, tok) structs — O(doc tokens) memory,
    // bounded by the longest single document, never by the corpus. Fine
    // for web/training documents; a caller feeding book-length texts
    // should chunk first (docChunks) or raise executor memory to match.
    val clean = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, tok))), p -> p.tok)"),
        " ").as("clean_text"))
    docs.select(col("doc_id")).join(clean, Seq("doc_id"), "left")
      .na.fill("", Seq("clean_text"))
  }

  def qBoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    boilerplateStrip(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  /** The strip replay as a reusable CTE chain over any `(doc_id, text)`
    * relation `src`, every CTE name prefixed with `pfx` so a composing
    * oracle (the training-funnel v2) can embed it without collisions.
    * Terminal CTEs: `${pfx}ws` (all src docs, tokenized) and
    * `${pfx}clean` (doc_id, clean_text — only docs with ≥1 kept token).
    */
  private[operators] def boilerplateStripCtesSql(src: String, pfx: String): String =
    s"""${pfx}ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |${pfx}p AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - $SuffixMinLen)) AS pos
       |      FROM ${pfx}ws WHERE len(w) >= $SuffixMinLen),
       |${pfx}wins AS (SELECT doc_id, pos,
       |           array_to_string(w[(pos + 1):(pos + $SuffixMinLen)], ' ') AS win,
       |           w[(pos + 1):] AS sfx
       |         FROM ${pfx}p),
       |${pfx}rep AS (SELECT win FROM ${pfx}wins GROUP BY win HAVING count(*) > 1),
       |${pfx}cand AS (SELECT doc_id, pos, win, sfx FROM ${pfx}wins
       |         WHERE win IN (SELECT win FROM ${pfx}rep)),
       |${pfx}nb AS (SELECT doc_id, pos, sfx,
       |         lag(sfx) OVER (PARTITION BY win ORDER BY sfx) AS prv,
       |         lead(sfx) OVER (PARTITION BY win ORDER BY sfx) AS nxt
       |       FROM ${pfx}cand),
       |${pfx}lens AS (SELECT doc_id, pos, greatest(
       |  CASE WHEN prv IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, prv),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(prv))) END,
       |  CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, nxt),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(nxt))) END) AS match_len
       |FROM ${pfx}nb),
       |${pfx}isl AS (SELECT doc_id, pos, match_len,
       |          CASE WHEN max(pos + match_len) OVER
       |                 (PARTITION BY doc_id ORDER BY pos
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |               IS NULL OR pos > max(pos + match_len) OVER
       |                 (PARTITION BY doc_id ORDER BY pos
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          THEN 1 ELSE 0 END AS new_isl
       |        FROM ${pfx}lens),
       |${pfx}isl2 AS (SELECT doc_id, pos, match_len,
       |           sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |         FROM ${pfx}isl),
       |${pfx}spans AS (SELECT doc_id, isl, min(pos) AS st, max(pos + match_len) AS en
       |          FROM ${pfx}isl2 GROUP BY doc_id, isl),
       |${pfx}covered AS (SELECT doc_id, unnest(generate_series(st, en - 1)) AS pos
       |            FROM ${pfx}spans),
       |${pfx}toks AS (SELECT doc_id, unnest(w) AS tok,
       |           unnest(generate_series(0, len(w) - 1)) AS pos
       |         FROM ${pfx}ws),
       |${pfx}kept AS (SELECT t.doc_id, t.pos, t.tok
       |         FROM ${pfx}toks t LEFT JOIN ${pfx}covered c
       |           ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         WHERE c.pos IS NULL),
       |${pfx}clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |          FROM ${pfx}kept GROUP BY doc_id)""".stripMargin

  val qBoilerplateStripSql: String =
    s"""WITH ${boilerplateStripCtesSql("documents", "")}
       |SELECT ws.doc_id, coalesce(clean.clean_text, '') AS clean_text
       |FROM ws LEFT JOIN clean ON ws.doc_id = clean.doc_id
       |ORDER BY ws.doc_id""".stripMargin

  def qBoilerplateMask(s: SparkSession, dir: String): DataFrame =
    boilerplateMask(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  val qBoilerplateMaskSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - $SuffixMinLen)) AS pos
       |      FROM ws WHERE len(w) >= $SuffixMinLen),
       |wins AS (SELECT doc_id, pos,
       |           array_to_string(w[(pos + 1):(pos + $SuffixMinLen)], ' ') AS win,
       |           w[(pos + 1):] AS sfx
       |         FROM p),
       |rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) > 1),
       |cand AS (SELECT doc_id, pos, win, sfx FROM wins
       |         WHERE win IN (SELECT win FROM rep)),
       |nb AS (SELECT doc_id, pos, sfx,
       |         lag(sfx) OVER (PARTITION BY win ORDER BY sfx) AS prv,
       |         lead(sfx) OVER (PARTITION BY win ORDER BY sfx) AS nxt
       |       FROM cand),
       |lens AS (SELECT doc_id, pos, greatest(
       |  CASE WHEN prv IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, prv),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(prv))) END,
       |  CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, nxt),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(nxt))) END) AS match_len
       |FROM nb),
       |isl AS (SELECT doc_id, pos, match_len,
       |          CASE WHEN max(pos + match_len) OVER
       |                 (PARTITION BY doc_id ORDER BY pos
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |               IS NULL OR pos > max(pos + match_len) OVER
       |                 (PARTITION BY doc_id ORDER BY pos
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          THEN 1 ELSE 0 END AS new_isl
       |        FROM lens),
       |isl2 AS (SELECT doc_id, pos, match_len,
       |           sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |         FROM isl),
       |spans AS (SELECT doc_id, isl, min(pos) AS st, max(pos + match_len) AS en
       |          FROM isl2 GROUP BY doc_id, isl),
       |per AS (SELECT doc_id, CAST(sum(en - st) AS BIGINT) AS boiler_tokens,
       |          count(*) AS n_spans
       |        FROM spans GROUP BY doc_id)
       |SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
       |  coalesce(per.boiler_tokens, 0) AS boiler_tokens,
       |  coalesce(per.n_spans, 0) AS n_spans,
       |  coalesce(per.boiler_tokens, 0) * 1000000 // CAST(len(ws.w) AS BIGINT) AS boiler_ppm
       |FROM ws LEFT JOIN per ON ws.doc_id = per.doc_id
       |ORDER BY ws.doc_id""".stripMargin

  def qSuffixLrs(s: SparkSession, dir: String): DataFrame =
    suffixMatchLens(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("pos"))

  val qSuffixLrsSql: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - $SuffixMinLen)) AS pos
       |      FROM ws WHERE len(w) >= $SuffixMinLen),
       |wins AS (SELECT doc_id, pos,
       |           array_to_string(w[(pos + 1):(pos + $SuffixMinLen)], ' ') AS win,
       |           w[(pos + 1):(pos + $SuffixCap)] AS sfx
       |         FROM p),
       |rep AS (SELECT win FROM wins GROUP BY win HAVING count(*) > 1),
       |cand AS (SELECT doc_id, pos, win, sfx FROM wins
       |         WHERE win IN (SELECT win FROM rep)),
       |nb AS (SELECT doc_id, pos, sfx,
       |         lag(sfx) OVER (PARTITION BY win ORDER BY sfx) AS prv,
       |         lead(sfx) OVER (PARTITION BY win ORDER BY sfx) AS nxt
       |       FROM cand)
       |SELECT doc_id, pos, greatest(
       |  CASE WHEN prv IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, prv),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(prv))) END,
       |  CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
       |    nullif(list_position(list_transform(list_zip(sfx, nxt),
       |      z -> z[1] IS NOT DISTINCT FROM z[2]), false), 0) - 1,
       |    least(len(sfx), len(nxt))) END) AS match_len
       |FROM nb
       |ORDER BY doc_id, pos""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", qDedupExact, Some(qDedupExactSql), bench = true),
    QueryDef("q_dedup_minhash_sig", qMinhashSignature, Some(qMinhashSignatureSql), bench = true),
    QueryDef("q_dedup_lsh_candidates", qLshCandidates, Some(qLshCandidatesSql), bench = true),
    QueryDef("q_dedup_lsh_tuned", qLshTuned, Some(qLshTunedSql)),
    QueryDef("q_dedup_incremental", qDedupIncremental, Some(qDedupIncrementalSql),
      bench = true),
    // bench = true times the PROBE alone: the staged index is built during
    // the untimed warmup pass (Staging.stagedDir), same protocol as
    // q_text_bm25_probe — the probe is the product at 100 TB
    QueryDef("q_dedup_incremental_indexed", qDedupIncrementalIndexed,
      Some(qDedupIncrementalSql), bench = true),
    QueryDef("q_dedup_simhash", qSimhash, Some(qSimhashSql)),
    QueryDef("q_dedup_simhash64", qSimhash64, Some(qSimhash64Sql)),
    QueryDef("q_dedup_simhash_pairs", qSimhashPairs, Some(qSimhashPairsSql), bench = true),
    QueryDef("q_dedup_jaccard_pairs", qJaccardPairs, Some(qJaccardPairsSql), bench = true),
    QueryDef("q_dedup_jaccard_estimate", qJaccardEstimate, Some(qJaccardEstimateSql)),
    QueryDef("q_dedup_containment", qContainmentPairs, Some(qContainmentPairsSql)),
    QueryDef("q_dedup_embedding_neardup", qEmbeddingNearDup, Some(qEmbeddingNearDupSql)),
    QueryDef("q_dedup_components", qDedupComponents, Some(qDedupComponentsSql), bench = true),
    QueryDef("q_dedup_keeper_by_quality", qKeeperByQuality, Some(qKeeperByQualitySql), bench = true),
    QueryDef("q_dedup_segments", qSegmentDedup, Some(qSegmentDedupSql), bench = true),
    QueryDef("q_dedup_spans", qRepeatedSpans, Some(qRepeatedSpansSql)),
    QueryDef("q_dedup_suffix_lrs", qSuffixLrs, Some(qSuffixLrsSql), bench = true),
    QueryDef("q_dedup_suffix_lrs_full", qSuffixLrsFull, Some(qSuffixLrsFullSql)),
    QueryDef("q_dedup_span_clusters", qDedupSpanClusters,
      Some(qDedupSpanClustersSql)),
    QueryDef("q_dedup_boilerplate", qBoilerplateMask, Some(qBoilerplateMaskSql)),
    QueryDef("q_dedup_boilerplate_strip", qBoilerplateStrip, Some(qBoilerplateStripSql)),
    QueryDef("q_dedup_semantic", qDedupSemantic, Some(qDedupSemanticSql), bench = true),
  )
}
