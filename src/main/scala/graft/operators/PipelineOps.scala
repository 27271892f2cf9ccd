package graft.operators

import graft.{CheckpointScope, QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline composition operators beyond the dedup/ANN core:
  * PII redaction, repetition quality signals, deterministic sequence
  * packing, and benchmark decontamination.
  *
  * Scale design: PII and repetition are narrow per-document projections
  * (regex / bounded array compute, zero shuffle). Packing windows are
  * partitioned by `source` so the cumulative sum parallelizes across
  * sources (a global-order pack would serialize on one partition).
  * Decontamination broadcasts the (small) benchmark n-gram set so the
  * training-corpus scan never shuffles.
  */
object PipelineOps {

  // Shared Java-regex/RE2-compatible PII patterns (same semantics in Spark
  // and DuckDB; no lookarounds, no backrefs)
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
  private val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII scan + redaction: counts per category and the redacted text. All
    * regexp — codegen'd, no shuffle. (The synthetic corpus contains no PII,
    * so counts are zero here; PipelineOpsSpec proves the redaction on real
    * emails/phones/IPs through this same function.)
    */
  def piiRedact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"),
        substring(piiRedact(col("text")), 1, 80).as("redacted_prefix"))

  val qPiiRedactSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
       |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
       |  substring(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'), 1, 80) AS redacted_prefix
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Repetition quality signals (Gopher-style): word counts, duplicate-word
    * fraction, and the most-frequent-word share. Bounded per-doc array
    * compute (O(distinct x words)), zero shuffle.
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val topFreq = array_max(transform(array_distinct(ws),
      w => size(filter(ws, x => x === w))))
    Tables.documents(s, dir).orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        size(ws).as("n_words"),
        size(array_distinct(ws)).as("n_distinct"),
        ((size(ws) - size(array_distinct(ws))) / size(ws).cast("double")).as("dup_word_ratio"),
        topFreq.as("top_word_freq"),
        (topFreq / size(ws).cast("double")).as("top_word_share"))
  }

  val qTextRepetitionSql: String =
    """SELECT doc_id,
      |  len(ws) AS n_words,
      |  len(list_distinct(ws)) AS n_distinct,
      |  (len(ws) - len(list_distinct(ws))) / CAST(len(ws) AS DOUBLE) AS dup_word_ratio,
      |  list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w)))) AS top_word_freq,
      |  list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w)))) / CAST(len(ws) AS DOUBLE) AS top_word_share
      |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic sequence packing: greedy fill of fixed token windows in
    * doc_id order WITHIN each source — the window partitions by the pack
    * key, so packing parallelizes across sources instead of serializing on
    * a global order. bin = floor(preceding-tokens / window).
    */
  private val PackWindow = 2048

  def qSeqPacking(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(words(col("text"))).as("n_tokens"))
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / PackWindow))
      .orderBy(col("doc_id"))
  }

  val qSeqPackingSql: String =
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens)
       |       / $PackWindow) AS BIGINT) AS bin
       |FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: training docs sharing >= ContamMinShared
    * distinct RARE k-grams with the (deterministic) benchmark subset are
    * flagged. The benchmark n-gram set is SMALL — broadcast it, so the
    * training scan is shuffle-free on its big side. (k=3 suits this
    * synthetic corpus; real pipelines use 8-13-gram overlap — the parameter
    * is the knob.)
    *
    * Scale guard: a stop-gram in the benchmark set ("the quick brown")
    * would match nearly every training doc, fanning the per-doc shuffle out
    * to the whole corpus. A pre-pass counts each benchmark gram's
    * training-side document frequency — the groupBy keys are bounded by the
    * broadcast gram set and partial-agg'd map-side, so the pre-pass
    * shuffles at most |benchmark grams| rows — and only grams with
    * df <= ContamMaxDf join into the per-doc aggregation. A stop-gram is a
    * noise signal for contamination anyway: sharing it says nothing.
    */
  private val ContamK = 3
  private val ContamMinShared = 3
  private[operators] val ContamMaxDf = 50

  /** Library form: flag docs in `train` sharing >= minShared distinct
    * k-grams (each with training-corpus df <= maxDf) with `benchmark`.
    * Both frames need (id, text).
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, k: Int = ContamK, minShared: Int = ContamMinShared,
      maxDf: Int = ContamMaxDf): DataFrame = {
    val evalGrams = benchmark
      .select(explode(graft.plans.ShingleSetExpr.shingleSet(col(textCol), k)).as("eg"))
      .distinct()
    val trainGrams = train.select(col(idCol),
      explode(graft.plans.ShingleSetExpr.shingleSet(col(textCol), k)).as("tg"))
    // One corpus scan: the matched-gram stream (bounded by benchmark-gram
    // occurrences, normally a sliver of the corpus) is materialized once,
    // at the first action (plan construction stays free), and reused for
    // both the df pre-pass and the per-doc count — the alternative
    // re-scans and re-shingles the whole training corpus for the second
    // aggregation (measured 24s -> 12s at sf1).
    val matched = CheckpointScope.local(
      trainGrams.join(broadcast(evalGrams), col("tg") === col("eg")), eager = false)

    val rare = matched
      .groupBy(col("eg")).agg(count(lit(1)).as("df")) // grams pre-distinct per doc
      .filter(col("df") <= maxDf)
      .select(col("eg").as("rg"))
    matched.join(broadcast(rare), col("eg") === col("rg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    decontaminate(d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val qDecontaminateSql: String = {
    val sh = shinglesSql("ws", ContamK)
    s"""WITH d AS (SELECT doc_id, list_distinct($sh) AS g
       |           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |ev AS (SELECT DISTINCT unnest(g) AS eg FROM d WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, unnest(g) AS tg FROM d WHERE doc_id % 97 <> 0),
       |dfc AS (SELECT eg, count(*) AS df FROM tr JOIN ev ON tg = eg GROUP BY eg),
       |rare AS (SELECT eg FROM dfc WHERE df <= $ContamMaxDf)
       |SELECT doc_id, count(*) AS n_shared
       |FROM tr JOIN rare ON tg = eg
       |GROUP BY doc_id
       |HAVING count(*) >= $ContamMinShared
       |ORDER BY doc_id""".stripMargin
  }

  /** Apply dedup: the surviving doc list after removing exact-dup non-keepers
    * (content-hash groups keep min doc_id) and near-dup partners (the larger
    * id of any LSH-candidate pair with Jaccard >= 0.5). Composes the capped
    * LSH candidate generation with two anti-joins — no new shuffle shapes.
    */
  def qDedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keepers = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nearDrop = Dedup.qJaccardPairs(s, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    keepers.join(nearDrop, Seq("doc_id"), "left_anti")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val qDedupApplySql: String = {
    // near-dup pairs: same CTE chain as q_dedup_jaccard_pairs
    val inner = Dedup.qJaccardPairsSql
      .replace("ORDER BY doc_a, doc_b", "")
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |near AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM ($inner) WHERE jaccard >= 0.5)
       |SELECT k.doc_id, d.source
       |FROM keepers k
       |JOIN documents d ON k.doc_id = d.doc_id
       |WHERE k.doc_id NOT IN (SELECT doc_id FROM near)
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Deterministic hash sampling / split assignment — the 100 TB sampling
    * primitive. `rand()`-based sampling is irreproducible across retries and
    * re-partitions (a retried task re-draws); hashing a stable id is
    * reproducible run-to-run, engine-to-engine, and under any re-partitioning,
    * and needs no shuffle at all (a codegen'd projection the scan can
    * evaluate). bucket = md5(seed || id) leading 60 bits mod `buckets` —
    * the same md5-prefix trick [[graft.plans.ShingleSetExpr]] uses, so both
    * engines agree bit-for-bit.
    */
  def hashBucket(id: org.apache.spark.sql.Column, buckets: Int = 100,
      seed: String = ""): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(seed), id.cast("string")).cast("binary")), 1, 15),
      16, 10).cast("long") % buckets

  private[operators] def hashBucketSql(id: String, buckets: Int, seed: String = ""): String =
    s"('0x' || substring(md5('$seed' || CAST($id AS VARCHAR)), 1, 15))::BIGINT % $buckets"

  /** Uniform deterministic sample: keep ids whose bucket < pct. */
  def sampleHash(df: DataFrame, idCol: String, pct: Int, seed: String = ""): DataFrame =
    df.filter(hashBucket(col(idCol), 100, seed) < pct)

  /** Per-stratum rates (e.g. downsample web-crawl, keep all curated): a
    * when-chain from a small literal map — constant-folded per row, still
    * zero shuffle.
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int,
      seed: String = ""): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(stratumCol) === k, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 100, seed) < pct)
  }

  /** Train/valid/test assignment by hash bucket: disjoint, exhaustive,
    * stable under data growth (a doc never migrates between splits when new
    * docs arrive — unlike rank- or rand-based splits).
    */
  def splitAssign(id: org.apache.spark.sql.Column, trainPct: Int = 80,
      validPct: Int = 10, seed: String = ""): org.apache.spark.sql.Column = {
    val b = hashBucket(id, 100, seed)
    when(b < trainPct, "train").when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Deterministic source mixing: emit each row `weight` times, where
    * weight is per-stratum and fractional — floor(w) whole epochs plus one
    * more for the hash-selected frac(w) of ids. Upsampling (w > 1)
    * replicates curated sources across training epochs; downsampling
    * (w < 1) thins bulk crawl — one operator, zero shuffle (explode of a
    * bounded sequence), reproducible run-to-run. The `epoch` column keeps
    * replicas distinguishable for downstream packing/shuffling.
    *
    * Weights with dyadic fractional parts (0.25, 0.5, …) make the
    * frac-threshold comparison exact in double arithmetic — prefer them
    * when a twin engine must agree on the boundary.
    */
  def mixWeights(df: DataFrame, idCol: String, stratumCol: String,
      weightByStratum: Map[String, Double], defaultWeight: Double = 1.0,
      seed: String = ""): DataFrame = {
    val w = weightByStratum.foldLeft(lit(defaultWeight)) { case (acc, (k, x)) =>
      when(col(stratumCol) === k, lit(x)).otherwise(acc)
    }
    val repeats = floor(w).cast("long") +
      when(hashBucket(col(idCol), 100, seed) < (w - floor(w)) * 100, 1L)
        .otherwise(0L)
    df.withColumn("epoch",
      explode(when(repeats >= 1, sequence(lit(1L), repeats))
        .otherwise(array().cast("array<bigint>"))))
  }

  def qMixWeights(s: SparkSession, dir: String): DataFrame =
    mixWeights(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_emitted"),
        countDistinct(col("doc_id")).as("n_unique"))
      .orderBy(col("source"))

  val qMixWeightsSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    unnest(generate_series(1,
       |      CAST(floor(w) AS BIGINT)
       |      + CASE WHEN ${hashBucketSql("doc_id", 100)} < (w - floor(w)) * 100
       |             THEN 1 ELSE 0 END)) AS epoch
       |  FROM (SELECT doc_id, source,
       |          CASE WHEN source = 'src0' THEN 2.5
       |               WHEN source = 'src1' THEN 0.25
       |               ELSE 1.0 END AS w
       |        FROM documents))
       |SELECT source, count(*) AS n_emitted, count(DISTINCT doc_id) AS n_unique
       |FROM m
       |GROUP BY source
       |ORDER BY source""".stripMargin

  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    sampleHash(Tables.documents(s, dir), "doc_id", 10)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  val qSampleHashSql: String =
    s"""SELECT doc_id, source, n_chars FROM documents
       |WHERE ${hashBucketSql("doc_id", 100)} < 10
       |ORDER BY doc_id""".stripMargin

  /** Context-window chunking: split each document into overlapping
    * token-window chunks (the standard pre-tokenization transform for a
    * fixed-context model — stride < window keeps boundary context). Pure
    * narrow projection + explode: zero shuffle at any scale; chunk count
    * per doc is ceil((n-window)/stride)+1, clamped to 1 for short docs
    * (positive-operand integer division only, so both engines' division
    * semantics agree).
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride, s"need 1 <= stride <= window")
    val w = split(col(textCol), " ")
    // positive operands only, so the double-division floor is exact and
    // matches DuckDB's integer // (quotients are hundreds of ulps from
    // any integer boundary)
    val nChunks = when(size(w) <= window, lit(1L))
      .otherwise(((size(w) - window + stride - 1).cast("double") / stride)
        .cast("long") + 1)
    docs
      .withColumn("__ws", w)
      .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1)))
      .select(col(idCol),
        col("chunk_idx"),
        slice(col("__ws"), (col("chunk_idx") * stride + 1).cast("int"), lit(window))
          .as("__cw"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__cw")).as("n_tokens"),
        substring(md5(array_join(col("__cw"), " ").cast("binary")), 1, 16)
          .as("chunk_hash"))
  }

  private val ChunkWindow = 32
  private val ChunkStride = 24

  def qDocChunks(s: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(s, dir), "doc_id", "text", ChunkWindow, ChunkStride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val qDocChunksSql: String =
    s"""SELECT doc_id, ci AS chunk_idx, len(cw) AS n_tokens,
       |  substring(md5(array_to_string(cw, ' ')), 1, 16) AS chunk_hash
       |FROM (
       |  SELECT doc_id, ci,
       |    ws[ci * $ChunkStride + 1 : ci * $ChunkStride + $ChunkWindow] AS cw
       |  FROM (
       |    SELECT doc_id, ws,
       |      unnest(range(0, CASE WHEN len(ws) <= $ChunkWindow THEN 1
       |        ELSE (len(ws) - $ChunkWindow + $ChunkStride - 1) // $ChunkStride + 1 END)) AS ci
       |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Weighted deterministic sampling: keep each row with probability
    * `weight` (clamped to [0,1] by the caller) — the RNG-free analog of
    * Bernoulli sampling, at 2^20 resolution on the md5 unit interval.
    * 16^15 ≡ 0 mod 2^20, so the bucket is exactly uniform; with DYADIC
    * weights (n/2^k, k <= 20) the threshold weight*2^20 is an exact
    * integer in double space and both engines agree on every boundary —
    * the [[mixWeights]] rule, applied per row. Zero shuffle.
    */
  def sampleWeighted(df: DataFrame, idCol: String,
      weight: org.apache.spark.sql.Column, seed: String = ""): DataFrame =
    df.filter(hashBucket(col(idCol), 1 << 20, seed) < weight * (1 << 20))

  /** Length-weighted sample: w = min(1, n_chars/1024) — longer documents
    * kept proportionally more often, the usual quality-weighted thinning.
    */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    sampleWeighted(Tables.documents(s, dir), "doc_id",
        least(lit(1.0), col("n_chars") / 1024))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy(col("lang"))

  val qSampleWeightedSql: String =
    s"""SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |FROM documents
       |WHERE ${hashBucketSql("doc_id", 1 << 20)} < least(1.0, n_chars / 1024.0) * ${1 << 20}
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    sampleStratified(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 5, "src1" -> 50), defaultPct = 20)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))

  val qSampleStratifiedSql: String =
    s"""SELECT source, count(*) AS n_kept FROM documents
       |WHERE ${hashBucketSql("doc_id", 100)} <
       |  CASE WHEN source = 'src0' THEN 5 WHEN source = 'src1' THEN 50 ELSE 20 END
       |GROUP BY source
       |ORDER BY source""".stripMargin

  def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), splitAssign(col("doc_id")).as("split"))
      .groupBy(col("split"), col("source")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("source"))

  val qSplitAssignSql: String = {
    val b = hashBucketSql("doc_id", 100)
    s"""SELECT CASE WHEN $b < 80 THEN 'train'
       |            WHEN $b < 90 THEN 'valid'
       |            ELSE 'test' END AS split,
       |       source, count(*) AS n
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY split, source""".stripMargin
  }

  /** Token-budget corpus selection: per source, keep documents in
    * hash-priority order until the cumulative token count reaches the
    * budget — "give me N tokens of src0, uniformly sampled, the same N
    * tokens every run". The hash priority makes the selection a uniform
    * random sample that is reproducible across runs, engines, and retries,
    * and STABLE under data growth in expectation (new docs displace only
    * docs near the budget boundary, not reshuffle the whole selection —
    * unlike rand()-ordered or arrival-ordered selection).
    *
    * Scale: the running sum parallelizes across sources (window partitioned
    * by source). For a single source at 100 TB, bound the window's input
    * first: the priority is uniform on [0, PrBuckets), so a pre-filter
    * `pr < ceil(budget / avgTokens / nDocs * PrBuckets * slack)` (one
    * aggregate to estimate avgTokens) shrinks the sorted window input to
    * ~budget tokens before any sort — the window never sees the corpus.
    */
  private val TokenBudget = 800L // binds at every scale (smallest source ~1100 tokens)
  private val PrBuckets = 1000000

  def tokenBudget(docs: DataFrame, idCol: String, sourceCol: String,
      budget: Long = TokenBudget, seed: String = ""): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("pr"), col(idCol))
    docs
      .select(col(idCol), col(sourceCol),
        size(words(col("text"))).as("n_tokens"),
        hashBucket(col(idCol), PrBuckets, seed).as("pr"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("pr")
  }

  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudget(Tables.documents(s, dir), "doc_id", "source")
      .orderBy(col("doc_id"))

  /** Grid of pr-quantile levels computed in the single pass-1 aggregate of
    * [[tokenBudgetSingleSource]]; the driver picks the smallest level
    * covering the budget fraction. Ends at 1.0 so a binding level always
    * exists.
    */
  private val PrQuantileGrid: Seq[Double] =
    Seq(1e-6, 1e-5, 1e-4, 1e-3, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 1.0)

  /** [[tokenBudget]] for ONE source at 100 TB — the case where the
    * per-source window would otherwise be a single-partition sort of the
    * whole corpus. Two passes:
    *
    * Pass 1 (one aggregate scan, no sort): corpus doc count, total tokens,
    * and approximate pr-quantiles at [[PrQuantileGrid]]. The driver picks
    * the smallest grid level >= slack x budget/totalTokens and uses its pr
    * value as the cutoff — a value PRESENT in the data, so the pre-filter
    * `pr <= cutoff` is non-empty by construction (an empty survivor set
    * could silently miss rows; non-empty means the in-plan guard always
    * evaluates).
    *
    * Pass 2: pre-filter to `pr <= cutoff` — a PREFIX of the (pr, id)
    * selection order, so cumulative sums over it equal those over the full
    * ordering — then the exact single-partition window over the ~slack x
    * budget-token survivor set, never the corpus. Exactness guard (the
    * [[Analytics.approxQuantiles]] pattern, loud): unless the whole corpus
    * fits the budget, the survivor prefix must OVERRUN the budget —
    * otherwise the true selection could extend past the pre-filter and the
    * run fails with assert_true rather than returning a silently-short
    * sample. The guard is conservative under doc-length skew; raise `slack`
    * if it trips.
    */
  def tokenBudgetSingleSource(docs: DataFrame, idCol: String,
      carryCols: Seq[String] = Seq("source"), budget: Long = TokenBudget,
      seed: String = "", slack: Double = 2.0): DataFrame = {
    val base = docs.select(col(idCol) +: carryCols.map(col) :+
      size(words(col("text"))).as("n_tokens") :+
      hashBucket(col(idCol), PrBuckets, seed).as("pr"): _*)
    val st = base.agg(count(lit(1)), sum(col("n_tokens")),
      percentile_approx(col("pr"),
        array(PrQuantileGrid.map(lit): _*), lit(100000))).head()
    val tot = if (st.isNullAt(1)) 0L else st.getLong(1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("pr"), col(idCol))
    val sel =
      if (st.getLong(0) == 0L || tot <= budget) // whole corpus fits: no filter
        base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      else {
        val f = math.min(1.0, slack * budget.toDouble / tot)
        val prCut = st.getSeq[Long](2)(PrQuantileGrid.indexWhere(_ >= f))
        base.filter(col("pr") <= prCut)
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("__tot",
            max(col("cum_tokens")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()))
          .where(coalesce(assert_true(col("__tot") > budget,
            concat(lit("tokenBudgetSingleSource pre-filter underran the " +
              "budget (survivor tokens "), col("__tot"),
              lit(s" <= $budget): raise slack ($slack)"))), lit(true)))
          .drop("__tot")
      }
    sel.filter(col("cum_tokens") <= budget).drop("pr")
  }

  /** Oracle entry: the single-source form over the src0 slice — same
    * selection as [[qTokenBudget]] restricted to src0 (per-source cumsums
    * are independent), so the twin needs no pre-filter. At sf0.01 and below
    * the budget covers most of src0 and the no-filter branch runs; at sf1
    * the pre-filter is ACTIVE (budget 800 of ~140k tokens) and the entry
    * stays hash-green — the cross-scale proof that the pre-filter does not
    * change the selection.
    */
  def qTokenBudgetSingle(s: SparkSession, dir: String): DataFrame =
    tokenBudgetSingleSource(
      Tables.documents(s, dir).filter(col("source") === "src0"), "doc_id")
      .orderBy(col("doc_id"))

  val qTokenBudgetSingleSql: String = {
    val pr = hashBucketSql("doc_id", PrBuckets)
    s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY pr, doc_id) AS BIGINT) AS cum_tokens
       |  FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |          $pr AS pr
       |        FROM documents WHERE source = 'src0'))
       |WHERE cum_tokens <= $TokenBudget
       |ORDER BY doc_id""".stripMargin
  }

  val qTokenBudgetSql: String = {
    val pr = hashBucketSql("doc_id", PrBuckets)
    s"""SELECT doc_id, source, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY pr, doc_id) AS BIGINT) AS cum_tokens
       |  FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |          $pr AS pr
       |        FROM documents))
       |WHERE cum_tokens <= $TokenBudget
       |ORDER BY doc_id""".stripMargin
  }

  /** End-to-end training-data preparation, one composed plan: exact-dup
    * keepers → near-dup partner removal (capped-LSH Jaccard ≥ 0.5) →
    * benchmark decontamination of the surviving train docs → hash split
    * assignment → per-(split, source) doc and token counts. The stages are
    * the library operators verbatim — the point of this entry is that the
    * COMPOSITION stays one lazy Catalyst plan (no materialization between
    * stages beyond the operators' own bounded checkpoints) and one oracle
    * checks the whole funnel, so a semantics drift in any stage fails here
    * even if the stage's own entry still passes.
    */
  def trainingPrep(docs: DataFrame): DataFrame = {
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val keepers = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nearDrop = Dedup.jaccardPairsOf(docs)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    val keptTrain = keepers.join(nearDrop, Seq("doc_id"), "left_anti")
      .join(docs, Seq("doc_id"))
      .filter(col("doc_id") % 97 =!= 0)
    val flagged = decontaminate(keptTrain, bench, "doc_id", "text")
      .select(col("doc_id"))
    keptTrain.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("text"),
        splitAssign(col("doc_id")).as("split"))
  }

  /** The full funnel: [[trainingPrep]]'s exact-dup → near-dup →
    * decontaminate → split stages, then the round-5/6 stages real pipelines
    * run BEFORE packing — segment-level (line) dedup over the train split
    * and token-budget selection per source over the CLEANED text. Uses
    * [[Dedup.segmentDedup]]'s fully-lazy join regime (`broadcastMaxSet =
    * 0`) so the whole funnel stays ONE lazy Catalyst plan end-to-end, and
    * one oracle checks the composition: a drift in any of six stages
    * breaks this entry even if each stage's own entry still passes.
    * Fully-boilerplate docs (n_kept = 0) drop before budgeting, like a
    * real line-dedup stage dropping emptied documents.
    */
  def trainingPrepFull(docs: DataFrame, budget: Long = TokenBudget): DataFrame =
    trainingPrepFullFrom(trainingPrep(docs), docs, budget)

  /** The post-prep stages over an already-composed [[trainingPrep]] frame —
    * split out so the bench entries can share ONE prep plan (and with it
    * the bounded lazy checkpoints inside: jaccard candidates,
    * decontamination matched-grams) instead of each materializing its own.
    *
    * `srcOf` is the BASE corpus frame: `source` re-attaches from its plain
    * scan rather than from `prep` — the cleaned ids are all prep-train ids
    * and doc_id is unique in the corpus, so the inner join yields
    * identical rows, while consuming `prep` a second time would duplicate
    * the ENTIRE prep subtree in the plan (Catalyst has no cross-branch
    * subtree sharing: the exact-dup/near-dup/decontaminate chain — five
    * exchanges — executed twice per action; plan audit r13).
    */
  private def trainingPrepFullFrom(prep: DataFrame, srcOf: DataFrame,
      budget: Long): DataFrame = {
    val train = prep.filter(col("split") === "train")
    val cleaned = Dedup.segmentDedup(
        train.select(col("doc_id"), col("text")), broadcastMaxSet = 0)
      .filter(col("n_kept") > 0)
    val withSrc = cleaned.join(srcOf.select(col("doc_id"), col("source")), Seq("doc_id"))
    tokenBudget(withSrc.select(col("doc_id"), col("source"),
      col("clean_text").as("text")), "doc_id", "source", budget)
  }

  /** Per-(session, dir) memo of the composed prep frame, shared by the two
    * funnel entries: the SAME DataFrame object means its internal lazy
    * localCheckpoints materialize once per process and both entries reuse
    * them (VERDICT r6 #5 — bench-harness sharing only; the library calls
    * [[trainingPrep]]/[[trainingPrepFull]] stay independent).
    */
  private val prepMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def sharedPrep(s: SparkSession, dir: String): DataFrame =
    // pinned: the memoized frame's internal checkpoints (jaccard
    // candidates, matched grams) outlive any single invocation — a
    // harness drain must not free blocks the SECOND funnel entry reads
    prepMemo.getOrElseUpdate((s, dir),
      CheckpointScope.pinned(trainingPrep(Tables.documents(s, dir))))

  def qPipelineFull(s: SparkSession, dir: String): DataFrame =
    trainingPrepFullFrom(sharedPrep(s, dir), Tables.documents(s, dir),
      TokenBudget).orderBy(col("doc_id"))

  val qPipelineFullSql: String = {
    val pairsInner = Dedup.qJaccardPairsSql.replace("ORDER BY doc_a, doc_b", "")
    val sh = shinglesSql("ws", ContamK)
    val b = hashBucketSql("doc_id", 100)
    val pr = hashBucketSql("doc_id", PrBuckets)
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |near AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM ($pairsInner) WHERE jaccard >= 0.5),
       |kept_train AS (
       |  SELECT k.doc_id FROM keepers k
       |  WHERE k.doc_id NOT IN (SELECT doc_id FROM near) AND k.doc_id % 97 <> 0),
       |grams AS (SELECT doc_id, list_distinct($sh) AS g
       |          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |ev AS (SELECT DISTINCT unnest(g) AS eg FROM grams WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, unnest(g) AS tg FROM grams
       |       WHERE doc_id IN (SELECT doc_id FROM kept_train)),
       |dfc AS (SELECT eg, count(*) AS df FROM tr JOIN ev ON tg = eg GROUP BY eg),
       |rare AS (SELECT eg FROM dfc WHERE df <= $ContamMaxDf),
       |flagged AS (SELECT doc_id FROM tr JOIN rare ON tg = eg
       |            GROUP BY doc_id HAVING count(*) >= $ContamMinShared),
       |clean AS (SELECT doc_id FROM kept_train
       |          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |train AS (SELECT d.doc_id, d.source, d.text
       |          FROM clean JOIN documents d USING (doc_id)
       |          WHERE $b < 80),
       |sbase AS (SELECT doc_id, string_split(text, ' ') AS ws FROM train),
       |sidx AS (SELECT doc_id, ws,
       |           unnest(generate_series(0, CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS pos
       |         FROM sbase),
       |ssegs AS (SELECT doc_id, pos,
       |            array_to_string(ws[(pos * 3 + 1):(pos * 3 + 3)], ' ') AS seg
       |          FROM sidx),
       |sboiler AS (SELECT seg FROM ssegs GROUP BY seg HAVING count(*) > 2),
       |sre AS (SELECT doc_id, count(*) AS n_kept,
       |          string_agg(seg, ' ' ORDER BY pos) AS clean_text
       |        FROM ssegs WHERE seg NOT IN (SELECT seg FROM sboiler)
       |        GROUP BY doc_id),
       |kept AS (SELECT t.doc_id, t.source, r.clean_text
       |         FROM train t JOIN sre r USING (doc_id)),
       |sel AS (SELECT doc_id, source, n_tokens,
       |          CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY pr, doc_id) AS BIGINT) AS cum_tokens
       |        FROM (SELECT doc_id, source,
       |                len(string_split(clean_text, ' ')) AS n_tokens,
       |                $pr AS pr
       |              FROM kept))
       |SELECT doc_id, source, n_tokens, cum_tokens FROM sel
       |WHERE cum_tokens <= $TokenBudget
       |ORDER BY doc_id""".stripMargin
  }

  /** The v2 funnel: [[trainingPrepFull]] with the UNCAPPED boilerplate
    * strip ([[Dedup.boilerplateStrip]]) composed in as the stage between
    * the split and the segment dedup — repeated ≥5-token spans across the
    * train corpus (disclaimers, templated headers, long quotes) are
    * removed at exact extents BEFORE line-granularity dedup and token
    * budgeting, the order a real pretraining pipeline runs them. A doc
    * stripped to nothing drops, like the n_kept = 0 rule downstream.
    * Unlike v1 this composition is not one lazy plan: the strip stage is
    * action-bearing (the suffix machinery's data-dependent prefix-
    * doubling rounds, [[Dedup.componentLabels]]-style) — the lazy stages
    * around it still fuse, and ONE oracle checks the whole composition.
    */
  private def trainingPrepFullV2From(prep: DataFrame, srcOf: DataFrame,
      budget: Long): DataFrame = {
    val train = prep.filter(col("split") === "train")
    val stripped = Dedup.boilerplateStrip(train.select(col("doc_id"), col("text")))
      .filter(length(col("clean_text")) > 0)
    val cleaned = Dedup.segmentDedup(
        stripped.select(col("doc_id"), col("clean_text").as("text")),
        broadcastMaxSet = 0)
      .filter(col("n_kept") > 0)
    // source from the base corpus scan, not a second prep execution —
    // identical rows, half the plan (see trainingPrepFullFrom)
    val withSrc = cleaned.join(srcOf.select(col("doc_id"), col("source")), Seq("doc_id"))
    tokenBudget(withSrc.select(col("doc_id"), col("source"),
      col("clean_text").as("text")), "doc_id", "source", budget)
  }

  def qPipelineFullV2(s: SparkSession, dir: String): DataFrame =
    trainingPrepFullV2From(sharedPrep(s, dir), Tables.documents(s, dir),
      TokenBudget).orderBy(col("doc_id"))

  val qPipelineFullV2Sql: String = {
    val pairsInner = Dedup.qJaccardPairsSql.replace("ORDER BY doc_a, doc_b", "")
    val sh = shinglesSql("ws", ContamK)
    val b = hashBucketSql("doc_id", 100)
    val pr = hashBucketSql("doc_id", PrBuckets)
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |near AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM ($pairsInner) WHERE jaccard >= 0.5),
       |kept_train AS (
       |  SELECT k.doc_id FROM keepers k
       |  WHERE k.doc_id NOT IN (SELECT doc_id FROM near) AND k.doc_id % 97 <> 0),
       |grams AS (SELECT doc_id, list_distinct($sh) AS g
       |          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |ev AS (SELECT DISTINCT unnest(g) AS eg FROM grams WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, unnest(g) AS tg FROM grams
       |       WHERE doc_id IN (SELECT doc_id FROM kept_train)),
       |dfc AS (SELECT eg, count(*) AS df FROM tr JOIN ev ON tg = eg GROUP BY eg),
       |rare AS (SELECT eg FROM dfc WHERE df <= $ContamMaxDf),
       |flagged AS (SELECT doc_id FROM tr JOIN rare ON tg = eg
       |            GROUP BY doc_id HAVING count(*) >= $ContamMinShared),
       |clean AS (SELECT doc_id FROM kept_train
       |          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |train AS (SELECT d.doc_id, d.source, d.text
       |          FROM clean JOIN documents d USING (doc_id)
       |          WHERE $b < 80),
       |${Dedup.boilerplateStripCtesSql("train", "bp_")},
       |stripped AS (SELECT doc_id, clean_text AS text FROM bp_clean
       |             WHERE len(clean_text) > 0),
       |sbase AS (SELECT doc_id, string_split(text, ' ') AS ws FROM stripped),
       |sidx AS (SELECT doc_id, ws,
       |           unnest(generate_series(0, CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1)) AS pos
       |         FROM sbase),
       |ssegs AS (SELECT doc_id, pos,
       |            array_to_string(ws[(pos * 3 + 1):(pos * 3 + 3)], ' ') AS seg
       |          FROM sidx),
       |sboiler AS (SELECT seg FROM ssegs GROUP BY seg HAVING count(*) > 2),
       |sre AS (SELECT doc_id, count(*) AS n_kept,
       |          string_agg(seg, ' ' ORDER BY pos) AS clean_text
       |        FROM ssegs WHERE seg NOT IN (SELECT seg FROM sboiler)
       |        GROUP BY doc_id),
       |kept AS (SELECT t.doc_id, t.source, r.clean_text
       |         FROM train t JOIN sre r USING (doc_id)),
       |sel AS (SELECT doc_id, source, n_tokens,
       |          CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY pr, doc_id) AS BIGINT) AS cum_tokens
       |        FROM (SELECT doc_id, source,
       |                len(string_split(clean_text, ' ')) AS n_tokens,
       |                $pr AS pr
       |              FROM kept))
       |SELECT doc_id, source, n_tokens, cum_tokens FROM sel
       |WHERE cum_tokens <= $TokenBudget
       |ORDER BY doc_id""".stripMargin
  }

  def qPipelinePrep(s: SparkSession, dir: String): DataFrame =
    sharedPrep(s, dir)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text")))).as("n_tokens"))
      .orderBy(col("split"), col("source"))

  val qPipelinePrepSql: String = {
    val pairsInner = Dedup.qJaccardPairsSql.replace("ORDER BY doc_a, doc_b", "")
    val sh = shinglesSql("ws", ContamK)
    val b = hashBucketSql("doc_id", 100)
    s"""WITH keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |near AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM ($pairsInner) WHERE jaccard >= 0.5),
       |kept_train AS (
       |  SELECT k.doc_id FROM keepers k
       |  WHERE k.doc_id NOT IN (SELECT doc_id FROM near) AND k.doc_id % 97 <> 0),
       |grams AS (SELECT doc_id, list_distinct($sh) AS g
       |          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |ev AS (SELECT DISTINCT unnest(g) AS eg FROM grams WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, unnest(g) AS tg FROM grams
       |       WHERE doc_id IN (SELECT doc_id FROM kept_train)),
       |dfc AS (SELECT eg, count(*) AS df FROM tr JOIN ev ON tg = eg GROUP BY eg),
       |rare AS (SELECT eg FROM dfc WHERE df <= $ContamMaxDf),
       |flagged AS (SELECT doc_id FROM tr JOIN rare ON tg = eg
       |            GROUP BY doc_id HAVING count(*) >= $ContamMinShared),
       |clean AS (SELECT doc_id FROM kept_train
       |          WHERE doc_id NOT IN (SELECT doc_id FROM flagged))
       |SELECT CASE WHEN $b < 80 THEN 'train'
       |            WHEN $b < 90 THEN 'valid'
       |            ELSE 'test' END AS split,
       |       source, count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM clean JOIN documents USING (doc_id)
       |GROUP BY 1, 2
       |ORDER BY split, source""".stripMargin
  }

  /** Temperature-balanced source mixing at α = 1/2 — the multilingual-
    * training sampler (rate per source ∝ share^α, α < 1 lifts small
    * sources). Unlike [[mixWeights]] the weights are COMPUTED from the
    * data: pass 1 is one tiny partial-agg'd count per source, pass 2 joins
    * the resulting handful of rows back as a broadcast and emits
    * floor(w) + hash-selected-fractional copies per doc — so at 100 TB the
    * corpus is scanned once and never shuffled (the explode is a narrow
    * projection; only the presentation agg exchanges).
    *
    * Determinism: α = 1/2 keeps everything in exact integer space —
    * s_s = floor(sqrt(n_s)) is exact in IEEE double for n_s < 2^50
    * (sqrt is correctly rounded; a non-square's root is never an integer
    * and a square's root is exact), and the per-source emission rate
    * w_s = N·s_s / (S·n_s) (N = total docs, S = Σ s_s — normalized so the
    * emitted total ≈ N) stays a ratio of int64s: whole copies = num DIV
    * den, and the fractional remainder becomes a 2^20-resolution threshold
    * floor(2^20·rem/den) on the md5 unit interval — single integer
    * divisions both engines compute identically, no float boundary
    * anywhere.
    */
  def temperatureMix(docs: DataFrame, idCol: String, sourceCol: String,
      seed: String = ""): DataFrame = {
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
      .withColumn("s_s", floor(sqrt(col("n_s").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("n_s")).as("n_total"), sum(col("s_s")).as("s_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("num", col("n_total") * col("s_s"))
      .withColumn("den", col("s_total") * col("n_s"))
      .select(col(sourceCol),
        expr("num DIV den").as("mix_whole"),
        expr(s"((num % den) * ${1L << 20}) DIV den").as("mix_thr"))
    emitByRate(docs, idCol, sourceCol, rates, seed)
  }

  /** Shared emission tail of the data-derived samplers ([[temperatureMix]],
    * [[unimaxMix]]): each doc emits `mix_whole` whole copies plus one
    * hash-selected fractional copy when its md5 unit-interval position
    * clears `mix_thr` — a broadcast join + narrow explode, zero shuffle.
    */
  private def emitByRate(docs: DataFrame, idCol: String, sourceCol: String,
      rates: DataFrame, seed: String): DataFrame = {
    val repeats = col("mix_whole") +
      when(hashBucket(col(idCol), 1 << 20, seed) < col("mix_thr"), 1L).otherwise(0L)
    docs.join(broadcast(rates), sourceCol)
      .withColumn("epoch",
        explode(when(repeats >= 1, sequence(lit(1L), repeats))
          .otherwise(array().cast("array<bigint>"))))
      .drop("mix_whole", "mix_thr")
  }

  /** UniMax source mixing (Chung et al. 2023) — the OTHER standard
    * multilingual sampler: a total example budget `B` and a per-source
    * epoch cap `E`, allocated by an ascending waterfill. Sources in
    * increasing-size order each take min(n_s·E, remaining ÷ sources-left):
    * small sources get their full capped epochs, large sources split what
    * remains evenly — maximally uniform coverage without over-repeating
    * the tail.
    *
    * Scale shape: the waterfill is a driver loop over ONE collected row
    * per source (bounded control-plane collect, the regime-pick
    * precedent); the emission is the same broadcast + narrow explode as
    * [[temperatureMix]] — the corpus is scanned once and never shuffled.
    * Determinism: the loop is pure int64 (`÷` is integer division), and
    * the fractional remainder becomes the same 2^20 dyadic md5 threshold
    * as every sampler here — no float boundary on either engine.
    */
  def unimaxMix(docs: DataFrame, idCol: String, sourceCol: String,
      budget: Long, maxEpochs: Int, seed: String = ""): DataFrame = {
    require(budget >= 0 && maxEpochs >= 1,
      s"bad unimax params budget=$budget maxEpochs=$maxEpochs")
    val s = docs.sparkSession
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
      .orderBy(col("n_s"), col(sourceCol)).collect() // one row per source
    var remaining = budget
    val rateRows = counts.zipWithIndex.map { case (r, i) =>
      val n = r.getLong(1)
      val fair = remaining / (counts.length - i)
      val alloc = math.min(n * maxEpochs, fair)
      remaining -= alloc
      org.apache.spark.sql.Row(r.get(0), alloc / n,
        ((alloc % n) * (1L << 20)) / n)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      counts.headOption.map(_.schema.head)
        .getOrElse(org.apache.spark.sql.types.StructField(sourceCol,
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("mix_whole",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mix_thr",
        org.apache.spark.sql.types.LongType)))
    val rates = s.createDataFrame(
      s.sparkContext.parallelize(rateRows.toSeq, 1), schema)
    emitByRate(docs, idCol, sourceCol, rates, seed)
  }

  private val UnimaxBudget = 800L
  private val UnimaxEpochs = 3

  def qMixUnimax(s: SparkSession, dir: String): DataFrame =
    unimaxMix(Tables.documents(s, dir), "doc_id", "source",
        UnimaxBudget, UnimaxEpochs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_emitted"),
        countDistinct(col("doc_id")).as("n_unique"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))

  /** DuckDB twin of the ascending waterfill: a recursive CTE walks the
    * sources in (n_s, source) order threading `remaining` through — the
    * same pure-int64 recurrence the Spark driver loop runs.
    */
  val qMixUnimaxSql: String = {
    val cap = s"c.n_s * $UnimaxEpochs"
    s"""WITH RECURSIVE c AS (
       |  SELECT source, count(*) AS n_s,
       |    row_number() OVER (ORDER BY count(*), source) AS rk,
       |    count(*) OVER () AS m
       |  FROM documents GROUP BY source),
       |a AS (
       |  SELECT c.rk, c.source, c.n_s,
       |    LEAST($cap, $UnimaxBudget // c.m) AS alloc,
       |    $UnimaxBudget - LEAST($cap, $UnimaxBudget // c.m) AS rem
       |  FROM c WHERE c.rk = 1
       |  UNION ALL
       |  SELECT c.rk, c.source, c.n_s,
       |    LEAST($cap, a.rem // (c.m - c.rk + 1)),
       |    a.rem - LEAST($cap, a.rem // (c.m - c.rk + 1))
       |  FROM c JOIN a ON c.rk = a.rk + 1),
       |r AS (SELECT source, alloc // n_s AS mix_whole,
       |        ((alloc % n_s) * ${1L << 20}) // n_s AS mix_thr FROM a),
       |e AS (
       |  SELECT d.doc_id, d.source,
       |    unnest(generate_series(1, CAST(r.mix_whole
       |      + CASE WHEN ${hashBucketSql("d.doc_id", 1 << 20)} < r.mix_thr
       |             THEN 1 ELSE 0 END AS BIGINT))) AS epoch
       |  FROM documents d JOIN r USING (source))
       |SELECT source, count(*) AS n_emitted, count(DISTINCT doc_id) AS n_unique,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM e GROUP BY source ORDER BY source""".stripMargin
  }

  /** sum(doc_id) over the emissions pins WHICH fractional ids were
    * selected, not just how many — a count-only oracle would pass even if
    * the hash threshold picked the wrong rows.
    */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(s, dir), "doc_id", "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_emitted"),
        countDistinct(col("doc_id")).as("n_unique"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))

  val qMixTemperatureSql: String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_s,
       |    CAST(floor(sqrt(count(*))) AS BIGINT) AS s_s
       |  FROM documents GROUP BY source),
       |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
       |             CAST(sum(s_s) AS BIGINT) AS s_total FROM c),
       |r AS (
       |  SELECT source,
       |    (t.n_total * c.s_s) // (t.s_total * c.n_s) AS mix_whole,
       |    (((t.n_total * c.s_s) % (t.s_total * c.n_s)) * ${1L << 20})
       |      // (t.s_total * c.n_s) AS mix_thr
       |  FROM c, t),
       |m AS (
       |  SELECT d.doc_id, d.source,
       |    unnest(generate_series(1, CAST(r.mix_whole
       |      + CASE WHEN ${hashBucketSql("d.doc_id", 1 << 20)} < r.mix_thr
       |             THEN 1 ELSE 0 END AS BIGINT))) AS epoch
       |  FROM documents d JOIN r USING (source))
       |SELECT source, count(*) AS n_emitted, count(DISTINCT doc_id) AS n_unique,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic epoch shuffle — the training-data randomization pass.
    * Each epoch seeds a fresh md5 permutation: a doc lands in shard
    * hash(id) mod nShards and sorts within its shard by a second hash
    * (id tie-break makes the order total). This is how 100 TB gets
    * shuffled: nShards ≫ executors bounds any single sort, the window
    * partitions by shard so position assignment parallelizes, and the
    * whole thing is reproducible run-to-run and engine-to-engine — no
    * rand(), no global row_number (which would serialize on one
    * partition).
    */
  def epochShuffle(docs: DataFrame, idCol: String, nShards: Int,
      epoch: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"), col(idCol))
    docs.select(col(idCol),
        hashBucket(col(idCol), nShards, s"shard$epoch").as("shard"),
        hashBucket(col(idCol), 1 << 20, s"ord$epoch").as("ord"))
      .withColumn("pos", row_number().over(w))
      .drop("ord")
  }

  def qShuffleEpoch(s: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(s, dir), "doc_id", nShards = 8, epoch = 1)
      .orderBy(col("shard"), col("pos"))

  val qShuffleEpochSql: String =
    s"""SELECT doc_id, shard,
       |  row_number() OVER (PARTITION BY shard
       |    ORDER BY ${hashBucketSql("doc_id", 1 << 20, "ord1")}, doc_id) AS pos
       |FROM (SELECT doc_id,
       |        ${hashBucketSql("doc_id", 8, "shard1")} AS shard
       |      FROM documents)
       |ORDER BY shard, pos""".stripMargin

  // Hashing-trick linear quality model: D buckets of int weights, derived
  // from a fixed recipe so both engines carry the same literal table.
  // (A production model would TRAIN these; the operator seam — broadcast
  // weight table + per-token lookup-sum projection — is identical.)
  private val QmDim = 64
  private val QmWeights: Seq[Long] =
    (0 until QmDim).map(i => (i * 2654435761L) % 97 - 48)

  /** Model-based quality filtering, fasttext-style: a linear classifier
    * over hashed token features (the hashing trick — no vocabulary, fixed
    * D-bucket weight table). score(doc) = Σ_tokens w[md5(token) mod D].
    * The weight table rides along as a 64-element literal (at a real D of
    * 2^20 it would broadcast), so scoring is a pure per-document
    * projection: zero shuffle at any scale, and integer weights keep the
    * score an exact int64 both engines agree on. This is the standard
    * "learned quality filter" pipeline stage (CCNet / fasttext langid
    * shape) with the model application seam made deterministic.
    */
  def qualityModelScore(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val wtab = array(QmWeights.map(lit): _*)
    aggregate(
      transform(words(text),
        x => element_at(wtab, (hashBucket(x, QmDim, "qm") + 1).cast("int")).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

  def qQualityModel(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), qualityModelScore(col("text")).as("score"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("score")).as("sum_score"))
      .orderBy(col("source"))

  val qQualityModelSql: String = {
    val wl = QmWeights.mkString("[", ", ", "]")
    s"""WITH sc AS (
       |  SELECT doc_id, source,
       |    coalesce(list_sum(list_transform(string_split(text, ' '),
       |      x -> ($wl)[CAST(${hashBucketSql("x", QmDim, "qm")} AS INTEGER) + 1])),
       |      0) AS score
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(score) AS BIGINT) AS sum_score
       |FROM sc GROUP BY source ORDER BY source""".stripMargin
  }

  /** DSIR-style hashed importance weighting (Xie et al. 2023's shape:
    * hashed n-gram features scored against a target-vs-raw distribution
    * pair, top-weight docs selected for training). Word bigrams hash into
    * [[IrBuckets]] buckets; the per-bucket divergence is the exact-integer
    * cross-multiplied difference `Nt_b·Ts − Ns_b·Tt` (sign = whether the
    * bucket is over-represented in the target), and a document's score is
    * Σ tf_b · diff_b — a LINEAR divergence surrogate for DSIR's
    * log-likelihood ratio, chosen deliberately: no transcendental touches
    * the ranking key, so both engines agree bitwise (the repo's no-`ln`
    * rule; a log-ratio scorer would be the same plan with a different
    * bucket statistic). Products stay inside int64 up to ~3·10^9 corpus
    * grams per side; past that, lift the diff to DECIMAL or renormalize
    * counts — the plan shape is unchanged.
    *
    * Scale: one gram explode partial-aggs to (bucket, Ns, Nt) — at most
    * [[IrBuckets]] rows, broadcast back; per-doc tf rows partial-agg on
    * (doc, bucket) before the broadcast join; the final per-doc sum is the
    * only doc-keyed exchange. Target membership is a predicate column, so
    * the target corpus is never scanned separately.
    */
  val IrBuckets = 256

  def qImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = words(col("text"))
    val n = size(w)
    val grams = docs
      .select(col("doc_id"), (col("lang") === "en").as("is_t"), w.as("w"),
        explode(when(n >= 2, sequence(lit(1), n - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), col("is_t"),
        hashBucket(concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1)), IrBuckets, "ir").as("b"))
    val stats = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("ns"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("nt"))
    val totals = stats.agg(sum(col("ns")).as("ts"), sum(col("nt")).as("tt"))
    val diff = stats.crossJoin(broadcast(totals))
      .select(col("b"), (col("nt") * col("ts") - col("ns") * col("tt")).as("diff"))
    grams.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf"))
      .join(broadcast(diff), "b")
      .groupBy(col("doc_id")).agg(sum(col("tf") * col("diff")).as("ir_score"))
      .orderBy(col("ir_score").desc, col("doc_id"))
      .limit(100)
  }

  val qImportanceWeightsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang = 'en' AS is_t,
       |    ${hashBucketSql("a || ' ' || b", IrBuckets, "ir")} AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_slice(ws, 1, len(ws) - 1)) AS a,
       |          unnest(list_slice(ws, 2, len(ws))) AS b
       |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |              FROM documents))),
       |st AS (
       |  SELECT b, count(*) AS ns,
       |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt
       |  FROM g GROUP BY b),
       |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS ts, CAST(sum(nt) AS BIGINT) AS tt FROM st),
       |d AS (SELECT b, CAST(nt * ts - ns * tt AS BIGINT) AS diff FROM st, tot),
       |tf AS (SELECT doc_id, b, count(*) AS tf FROM g GROUP BY doc_id, b)
       |SELECT doc_id, CAST(sum(tf.tf * d.diff) AS BIGINT) AS ir_score
       |FROM tf JOIN d USING (b)
       |GROUP BY doc_id
       |ORDER BY ir_score DESC, doc_id
       |LIMIT 100""".stripMargin

  // ------------------------------------------------ quality calibration --

  /** Per-domain reliability table — the calibration artifact behind a
    * quality CLASSIFIER at corpus scale: raw scores bin per domain and
    * each (domain, bin) cell records the empirical rate of the target
    * label, so a downstream filter thresholds on P(label) instead of a
    * raw score whose meaning drifts across domains (web boilerplate and
    * academic text do not share a score scale — the classic reason
    * per-domain calibration exists). One partial-aggregated exchange on
    * (domain, bin); the rate is a single exact-int division.
    */
  def reliabilityTable(docs: DataFrame, score: Column, label: Column,
      domain: Column, binWidth: Int): DataFrame = {
    require(binWidth >= 1, s"bad binWidth $binWidth")
    docs.select(domain.as("domain"),
        // floor division, not truncation: Spark's `/` on integrals is
        // double division and a bare cast truncates toward zero, which
        // for NEGATIVE scores lands in the adjacent bin vs the oracle's
        // `//` (floor) semantics — floor() matches for all sign ranges
        floor(score.cast("long") / binWidth).cast("long").as("bin"),
        label.cast("long").as("y"))
      .groupBy(col("domain"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .withColumn("rate", col("pos").cast("double") / col("n").cast("double"))
  }

  /** Pool-adjacent-violators isotonic fix over a domain's bin rates —
    * calibration should be MONOTONE in the raw score, but empirical bin
    * rates wiggle; PAV pools adjacent violating bins into weighted
    * averages (the standard isotonic-regression step, run driver-side
    * over the bounded per-domain bin table — the bins are the artifact,
    * never the corpus). Returns (bin, calibratedRate) with rates
    * non-decreasing; the weighted mean over bins is preserved exactly.
    */
  def pavCalibrate(bins: Seq[(Long, Long, Long)]): Seq[(Long, Double)] =
    pavPools(bins).map { case (b, n, pos) => (b, pos.toDouble / n.toDouble) }

  /** The PAV fit with each bin's POOL TOTALS exposed — (bin, poolN,
    * poolPos) — so a consumer can derive the fitted value in exact
    * integer space (poolPos·10⁶ / poolN) instead of re-rounding a
    * double; [[calibratedFilter]] thresholds on exactly that.
    */
  def pavPools(bins: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    pavStack(bins.sortBy(_._1).iterator.map { case (b, n, pos) =>
      (List(b), n, pos)
    }).flatMap { case (bs, n, pos) => bs.map(b => (b, n, pos)) }

  /** The pooling fold over (members, n, pos) ATOMS — shared by the
    * driver fit (atoms = single bins) and the distributed merge (atoms =
    * per-partition pools). Feeding already-pooled isotonic runs is sound:
    * adjacent-violator pooling converges to the same unique fit in any
    * pooling order (the classical PAV theorem), so pool-level atoms
    * commute with bin-level ones. Comparing pos·n cross-products keeps
    * the violation test exact-int.
    */
  private def pavStack(atoms: Iterator[(List[Long], Long, Long)])
      : List[(List[Long], Long, Long)] = {
    var pools = List.empty[(List[Long], Long, Long)] // reversed (head = latest)
    for (atom <- atoms) {
      var cur = atom
      while (pools.nonEmpty && pools.head._3 * cur._2 >= cur._3 * pools.head._2) {
        val p = pools.head; pools = pools.tail
        cur = (p._1 ++ cur._1, p._2 + cur._2, p._3 + cur._3)
      }
      pools = cur :: pools
    }
    pools.reverse
  }

  /** DISTRIBUTED PAV fit over a `(domain, bin, n, pos)` frame — the form
    * that removes [[calibratedFilter]]'s driver collect for tables past
    * driver size. Domains are independent fits, so the natural 100 TB
    * shape (millions of domains × a bounded per-domain bin range — the
    * bins are score/binWidth, an artifact bound, never the corpus) runs
    * each domain's exact PAV inside one executor task via
    * `flatMapGroups`; nothing touches the driver. A SINGLE domain whose
    * bin table outgrows a task uses [[pavPoolsPartitioned]] (the
    * range-sorted pool-merge). Returns `(domain, bin, cal_ppm)` with the
    * identical exact-int ppm floor as the driver fit.
    */
  def pavFitDistributed(bins: DataFrame): DataFrame = {
    val s = bins.sparkSession
    import s.implicits._
    bins.select(col("domain").cast("string"), col("bin").cast("long"),
        col("n").cast("long"), col("pos").cast("long"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (dom, it) =>
        pavPools(it.map(t => (t._2, t._3, t._4)).toSeq)
          .iterator.map { case (b, pn, pp) => (dom, b, pp * 1000000L / pn) }
      }
      .toDF("domain", "bin", "cal_ppm")
  }

  /** Single-domain PAV past task size: range-sort the `(bin, n, pos)`
    * frame, pool every partition locally ([[pavStack]] over its sorted
    * bins), and stack-merge the per-partition pool runs in partition
    * order — the segment-tree composition PAV's order-insensitive
    * pooling licenses. The driver sees only per-partition POOL runs
    * (each a monotone compression of its partition — bounded by the
    * partition's bin count, typically far smaller), never the bin table.
    */
  def pavPoolsPartitioned(bins: DataFrame): Seq[(Long, Long, Long)] = {
    val s = bins.sparkSession
    import s.implicits._
    val parts = bins.select(col("bin").cast("long"), col("n").cast("long"),
        col("pos").cast("long"))
      .as[(Long, Long, Long)]
      .repartitionByRange(col("bin"))
      .sortWithinPartitions(col("bin"))
      .rdd.mapPartitionsWithIndex { (pi, it) =>
        Iterator.single(pi -> pavStack(it.map { case (b, n, pos) =>
          (List(b), n, pos)
        }))
      }.collect().sortBy(_._1)
    pavStack(parts.iterator.flatMap(_._2))
      .flatMap { case (bs, n, pos) => bs.map(b => (b, n, pos)) }
  }

  /** The calibration loop CLOSED: per-domain reliability table →
    * driver-side PAV over the bounded bin artifact → fitted P(label) as
    * an exact-int ppm (floor(poolPos·10⁶ / poolN)) → broadcast-joined
    * back onto the corpus → threshold. This is how a production quality
    * filter consumes a classifier: never the raw score (whose meaning
    * drifts across domains), always the per-domain calibrated
    * probability. The corpus is touched exactly twice (the one
    * partial-aggregated bin exchange, then the broadcast-join filter
    * scan); the PAV itself runs over |domains|·|bins| rows on the
    * driver.
    *
    * Determinism note: the fitted ppm floor commutes with PAV's minimax
    * characterization (floor is monotone, so max-min of floored segment
    * means equals the floored max-min), which is what lets the DuckDB
    * oracle replay the fit as an exact-int minimax over prefix sums
    * rather than re-running the pooling loop.
    */
  def calibratedFilter(docs: DataFrame, score: Column, label: Column,
      domain: Column, binWidth: Int, thresholdPpm: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bins = reliabilityTable(docs, score, label, domain, binWidth)
      .select(col("domain"), col("bin"), col("n"), col("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fitted = bins.groupBy(_._1).toSeq.flatMap { case (dom, rows) =>
      pavPools(rows.toSeq.map(t => (t._2, t._3, t._4)))
        .map { case (b, pn, pp) => (dom, b, pp * 1000000L / pn) }
    }
    val fitDf = broadcast(fitted.toDF("domain", "bin", "cal_ppm"))
    docs.select(col("doc_id"), domain.as("domain"),
        floor(score.cast("long") / binWidth).cast("long").as("bin"))
      .join(fitDf, Seq("domain", "bin"))
      .filter(col("cal_ppm") >= thresholdPpm)
      .select(col("doc_id"), col("domain"), col("bin"), col("cal_ppm"))
  }

  /** [[calibratedFilter]] with the fit computed DISTRIBUTED
    * ([[pavFitDistributed]]) and joined back without a forced broadcast
    * (AQE broadcasts when the fit is small; a fit past broadcast size
    * shuffle-joins on (domain, bin)) — the form for (domain × bin)
    * tables past driver size. Output contract is identical to
    * [[calibratedFilter]]; PipelineOpsSpec pins row equality.
    */
  def calibratedFilterDistributed(docs: DataFrame, score: Column, label: Column,
      domain: Column, binWidth: Int, thresholdPpm: Long): DataFrame = {
    val fit = pavFitDistributed(
      reliabilityTable(docs, score, label, domain, binWidth)
        .select(col("domain"), col("bin"), col("n"), col("pos")))
    docs.select(col("doc_id"), domain.as("domain"),
        floor(score.cast("long") / binWidth).cast("long").as("bin"))
      .join(fit, Seq("domain", "bin"))
      .filter(col("cal_ppm") >= thresholdPpm)
      .select(col("doc_id"), col("domain"), col("bin"), col("cal_ppm"))
  }

  /** Calibrated-filter demo with a genuinely monotone signal: score =
    * n_chars, label = "the doc contains the token `merge`" (P(contains)
    * rises with length — the per-domain empirical rates wiggle, PAV
    * smooths them), domain = lang. The threshold keeps docs whose
    * calibrated label probability is ≥ 0.7 — the shape of "keep docs the
    * calibrated quality model scores high", with the fit consumed from
    * [[pavPools]], not re-derived.
    */
  def qQualityCalibratedFilter(s: SparkSession, dir: String): DataFrame =
    calibratedFilter(Tables.documents(s, dir),
      score = col("n_chars"),
      label = array_contains(split(col("text"), " "), "merge").cast("long"),
      domain = col("lang"), binWidth = 100, thresholdPpm = 700000L)
      .orderBy(col("doc_id"))

  val qQualityCalibratedFilterSql: String =
    s"""WITH d AS (SELECT doc_id, lang AS domain, n_chars // 100 AS bin,
       |             CAST(list_contains(string_split(text, ' '), 'merge') AS BIGINT) AS y
       |           FROM documents),
       |bins AS (SELECT domain, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
       |         FROM d GROUP BY domain, bin),
       |idx AS (SELECT domain, bin, n, pos,
       |          row_number() OVER (PARTITION BY domain ORDER BY bin) AS i
       |        FROM bins),
       |cum AS (SELECT domain, bin, i, n, pos,
       |          sum(n) OVER w AS cn, sum(pos) OVER w AS cp,
       |          sum(n) OVER w - n AS pn, sum(pos) OVER w - pos AS pp
       |        FROM idx WINDOW w AS (PARTITION BY domain ORDER BY i)),
       |-- exact-int segment means: floor((cp[k]-pp[j])*1e6 / (cn[k]-pn[j]))
       |seg AS (SELECT j.domain, j.i AS j, k.i AS k,
       |          CAST((k.cp - j.pp) * 1000000 // (k.cn - j.pn) AS BIGINT) AS mppm
       |        FROM cum j JOIN cum k ON j.domain = k.domain AND j.i <= k.i),
       |-- isotonic regression via its minimax characterization:
       |-- fit(i) = max over j<=i of (min over k>=i of mean(j..k)); the
       |-- floor commutes with max/min, so this equals the floored PAV fit
       |mn AS (SELECT s.domain AS domain, x.i AS i, s.j AS j, min(s.mppm) AS m
       |       FROM seg s JOIN idx x ON s.domain = x.domain
       |                             AND s.j <= x.i AND x.i <= s.k
       |       GROUP BY s.domain, x.i, s.j),
       |fit AS (SELECT domain, i, max(m) AS cal_ppm FROM mn GROUP BY domain, i),
       |fb AS (SELECT fit.domain AS domain, x.bin AS bin, fit.cal_ppm AS cal_ppm
       |       FROM fit JOIN idx x ON fit.domain = x.domain AND fit.i = x.i)
       |SELECT d.doc_id, d.domain, d.bin, fb.cal_ppm
       |FROM d JOIN fb ON d.domain = fb.domain AND d.bin = fb.bin
       |WHERE fb.cal_ppm >= 700000
       |ORDER BY d.doc_id""".stripMargin

  /** Calibration demo on the fixture corpus: raw score = n_chars (the
    * one honest numeric the table carries), label = "this text is an
    * exact duplicate of another doc" (boilerplate duplicates more — the
    * signal a dedup-aware quality filter wants), domain = source.
    */
  def qQualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val freq = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c"))
    val labeled = docs
      .select(col("source"), col("n_chars"), md5(col("text").cast("binary")).as("h"))
      .join(freq, Seq("h"))
      .withColumn("dup", (col("c") > 1).cast("long"))
    reliabilityTable(labeled, col("n_chars"), col("dup"), col("source"), 50)
      .orderBy(col("domain"), col("bin"))
  }

  val qQualityCalibrationSql: String =
    s"""WITH f AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1),
       |d AS (SELECT source AS domain, n_chars // 50 AS bin,
       |        CAST(c > 1 AS BIGINT) AS y
       |      FROM documents JOIN f ON md5(text) = f.h)
       |SELECT domain, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
       |  CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rate
       |FROM d
       |GROUP BY domain, bin
       |ORDER BY domain, bin""".stripMargin

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_quality_calibration", qQualityCalibration, Some(qQualityCalibrationSql)),
    QueryDef("q_quality_calibrated_filter", qQualityCalibratedFilter,
      Some(qQualityCalibratedFilterSql)),
    QueryDef("q_importance_weights", qImportanceWeights, Some(qImportanceWeightsSql)),
    QueryDef("q_pii_redact", qPiiRedact, Some(qPiiRedactSql)),
    QueryDef("q_pipeline_prep", qPipelinePrep, Some(qPipelinePrepSql), bench = true),
    QueryDef("q_pipeline_full", qPipelineFull, Some(qPipelineFullSql), bench = true),
    QueryDef("q_pipeline_full_v2", qPipelineFullV2, Some(qPipelineFullV2Sql)),
    QueryDef("q_sample_hash", qSampleHash, Some(qSampleHashSql)),
    QueryDef("q_sample_stratified", qSampleStratified, Some(qSampleStratifiedSql)),
    QueryDef("q_sample_weighted", qSampleWeighted, Some(qSampleWeightedSql)),
    QueryDef("q_doc_chunks", qDocChunks, Some(qDocChunksSql)),
    QueryDef("q_split_assign", qSplitAssign, Some(qSplitAssignSql)),
    QueryDef("q_mix_weights", qMixWeights, Some(qMixWeightsSql)),
    QueryDef("q_mix_temperature", qMixTemperature, Some(qMixTemperatureSql)),
    QueryDef("q_mix_unimax", qMixUnimax, Some(qMixUnimaxSql)),
    QueryDef("q_shuffle_epoch", qShuffleEpoch, Some(qShuffleEpochSql)),
    QueryDef("q_quality_model", qQualityModel, Some(qQualityModelSql)),
    QueryDef("q_token_budget", qTokenBudget, Some(qTokenBudgetSql)),
    QueryDef("q_token_budget_single", qTokenBudgetSingle, Some(qTokenBudgetSingleSql)),
    QueryDef("q_text_repetition", qTextRepetition, Some(qTextRepetitionSql)),
    QueryDef("q_seq_packing", qSeqPacking, Some(qSeqPackingSql)),
    QueryDef("q_decontaminate", qDecontaminate, Some(qDecontaminateSql), bench = true),
    QueryDef("q_dedup_apply", qDedupApply, Some(qDedupApplySql)),
  )
}
