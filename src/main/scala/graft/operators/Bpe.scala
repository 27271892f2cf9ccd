package graft.operators

import graft.{CheckpointScope, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning — tokenizer vocabulary induction, the one
  * corpus-statistics job every LLM data pipeline runs before training
  * (Sennrich et al. 2016's learn_bpe, re-shaped for a cluster).
  *
  * The scalable structure mirrors production BPE trainers: the CORPUS is
  * scanned exactly once (word counting — one explode + partial-agg'd
  * shuffle); every merge iteration then runs over the DISTINCT-WORD table
  * only, which is bounded by vocabulary size (~10^6 for natural language),
  * not corpus size — so 100 TB of text costs the same per-merge work as
  * 100 GB once counted. Per iteration: adjacent symbol pairs explode and
  * partial-agg to weighted counts, the argmax pair comes back as ONE
  * bounded control-plane row, and the merge itself is an in-row left-to-right
  * fold over each word's symbol array (greedy non-overlapping, exactly
  * Sennrich's regex-replace semantics). Lineage is cut with an eager
  * localCheckpoint per merge so the plan never grows with merge count.
  *
  * Correctness contract: [[referenceBpe]] is an independent sequential
  * implementation; the oracle entry stages its output as parquet and the
  * shared DuckDB compare checks the distributed path against it hash-exact
  * (the q_odim_ingest self-consistency protocol).
  */
object Bpe {

  /** End-of-word marker — merges never cross word boundaries, and a symbol
    * sequence ending in the marker distinguishes "low" the word from "low"
    * the prefix (Sennrich's convention).
    */
  val EndMark = "</w>"

  /** (word, cnt) table: the single corpus scan. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Greedy left-to-right merge of adjacent (l, r) into l+r, as an in-row
    * fold: append each symbol unless the accumulator's last element is `l`
    * and the incoming one is `r`. Equivalent to the sequential skip-2 scan
    * (a just-merged token is l+r ≠ l, so it can never immediately re-merge)
    * — the equivalence BpeSpec pins against [[referenceBpe]].
    */
  private def mergeSyms(syms: Column, l: String, r: String): Column =
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      slice(syms, 1, 1),
      (acc, x) => when(element_at(acc, -1) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` BPE merges over the corpus; returns
    * (rank, left, right, pair_cnt) ordered by rank. Ties in pair count
    * break lexicographically (left asc, right asc) so the result is
    * deterministic across partitionings and engines.
    */
  def learnBpe(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // chars via substring (split(word, '') keeps a trailing "" under
    // Spark's limit=-1 regex split — an empty symbol would poison pairs)
    var vocab = CheckpointScope.local(wordCounts(docs, textCol)
      .select(col("cnt"), concat(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        array(lit(EndMark))).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      // one bounded row: the weighted-argmax pair of this round
      val top = vocab
        // guard BEFORE sequence(): sequence(1, 0) would count DOWN
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"),
          explode(expr("transform(sequence(1, size(syms) - 1), " +
            "i -> named_struct('l', element_at(syms, i), 'r', element_at(syms, i + 1)))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) rank = numMerges + 1
      else {
        val (l, r, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((rank, l, r, c))
        val next = CheckpointScope.local(vocab
          .select(col("cnt"), mergeSyms(col("syms"), l, r).as("syms")))
        // the eager checkpoint above just materialized FROM the previous
        // round's blocks — free them now (guide §5) instead of waiting for
        // frame GC; numMerges rounds would otherwise hold numMerges copies
        // of the vocab in the storage pool
        CheckpointScope.release(vocab)
        vocab = next
        rank += 1
      }
    }
    // merges live on the driver; the final vocab's blocks are dead too
    CheckpointScope.release(vocab)
    merges.toSeq.toDF("rank", "left", "right", "pair_cnt")
      .orderBy(col("rank"))
  }

  /** Unsigned UTF-8 byte-sequence ordering — the collation of Spark's
    * UTF8String binary compare (= code-point order). The sequential
    * reference's tie-break must use the SAME collation as learnBpe's
    * distributed `orderBy(l, r)` or, for count ties that mix
    * supplementary-plane characters with U+E000–U+FFFF chars, the two
    * paths pick different merges (Java String compare is UTF-16
    * code-UNIT order, which ranks surrogate pairs below private-use
    * BMP chars).
    */
  private[operators] val Utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var c = 0
    while (i < n && c == 0) {
      c = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (c != 0) c else x.length - y.length
  }

  /** Independent sequential reference (the oracle side): plain Scala over
    * the collected (word, cnt) table. Driver-bounded by VOCABULARY size —
    * acceptable for an oracle; the distributed path above never collects
    * the vocabulary.
    */
  def referenceBpe(words: Seq[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString).toVector :+ EndMark, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.min(
          Ordering.by[((String, String), Long), Long](-_._2)
            .orElse(Ordering.by[((String, String), Long), String](_._1._1)(Utf8Order))
            .orElse(Ordering.by[((String, String), Long), String](_._1._2)(Utf8Order)))
        out += ((rank, l, r, c))
        vocab = vocab.map { case (syms, cnt) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), cnt)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Fixed merge budget for the oracle entry. */
  val NumMerges = 20

  /** Self-consistency staging: the sequential reference's merges, written
    * fresh on EVERY call (the result depends on the scale dir, and one Gate
    * JVM verifies several scales back to back — a per-JVM once-latch would
    * leak scale A's reference into scale B's compare). Pid-keyed: the SQL
    * below is consumed by the SAME process's oracle dump, and a concurrent
    * sbt-test JVM running BpeSpec must not clobber a Verify run's staging
    * between its dump and the DuckDB compare.
    */
  private[operators] val SelfCheckDir =
    Staging.pidScratchDir("graft_bpe_selfcheck")

  val qBpeMergesSql: String =
    s"""SELECT "rank", "left", "right", pair_cnt FROM '$SelfCheckDir/*.parquet' ORDER BY "rank""""

  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val wc = wordCounts(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    referenceBpe(wc, NumMerges)
      .toDF("rank", "left", "right", "pair_cnt")
      .coalesce(1).write.mode("overwrite").parquet(SelfCheckDir)
    learnBpe(docs, NumMerges)
  }

  /** Sequential reference encode (oracle side of [[qBpeEncode]]): apply
    * merges in rank order with the same greedy scan-skip merge.
    */
  def referenceEncode(text: String,
      merges: Seq[(String, String)]): String =
    text.split(" ").filter(_.nonEmpty).flatMap { w =>
      var syms: Vector[String] = w.map(_.toString).toVector :+ EndMark
      merges.foreach { case (l, r) =>
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            b += (l + r); i += 2
          } else { b += syms(i); i += 1 }
        }
        syms = b.result()
      }
      syms
    }.mkString(" ")

  /** Tokenizer application entry: the corpus-learned merge table (bounded
    * control-plane collect of [[NumMerges]] rows) is baked into the native
    * [[graft.plans.BpeEncodeExpr]] projection and applied to a
    * deterministic 1/37 document sample. The oracle is the sequential
    * reference encode over the SAME sample, staged fresh per call (the
    * [[qBpeMerges]] protocol) — driver cost is bounded by the sample, and
    * the distributed learn feeding the expression is itself oracle-checked
    * by `q_bpe_merges`, so a pass pins learn + apply end to end. The full
    * unsampled encode is the same projection (ExprSpec pins the expression
    * against the declarative merge fold).
    */
  private[operators] val EncodeCheckDir =
    Staging.pidScratchDir("graft_bpe_encode_selfcheck")

  val qBpeEncodeSql: String =
    s"SELECT doc_id, bpe FROM '$EncodeCheckDir/*.parquet' ORDER BY doc_id"

  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val merges = learnBpe(docs, NumMerges).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // doc_id cap keeps the oracle's driver-side collect bounded (<= 2000
    // docs) at ANY scale factor; both sides sample identically so the
    // compare is unaffected
    val sample = docs.filter(col("doc_id") % 37 === 0 && col("doc_id") < 74000)
      .select(col("doc_id"), col("text"))
    val collected = sample.collect()
    // fail LOUDLY if the id-distribution assumption (dense from 0) breaks:
    // an empty sample would make both compare sides empty and pass vacuously
    require(collected.nonEmpty,
      "q_bpe_encode sample is empty — doc_id distribution no longer dense from 0; widen the sample predicate")
    collected
      .map(r => (r.getLong(0), referenceEncode(r.getString(1), merges)))
      .toSeq.toDF("doc_id", "bpe")
      .coalesce(1).write.mode("overwrite").parquet(EncodeCheckDir)
    sample
      .select(col("doc_id"),
        graft.plans.BpeEncodeExpr.bpeEncode(col("text"), merges).as("bpe"))
      .orderBy(col("doc_id"))
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("q_bpe_merges", qBpeMerges, Some(qBpeMergesSql)),
    QueryDef("q_bpe_encode", qBpeEncode, Some(qBpeEncodeSql)),
  )
}
